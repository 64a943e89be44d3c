"""Query API (Q1-Q5 of SURVEY.md §2.6) over the nodes/edges tables.

Each function is the Spark-SQL re-expression of one REST endpoint's
Cypher (api/services/Neo4jQueryService.scala); the reference delegated
planning to Neo4j — here Catalyst plans it (filter pushdown into the
parquet scan, broadcast for the small search side, TakeOrderedAndProject
for the top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import scale


def graph_metadata(nodes: DataFrame, edges: DataFrame) -> dict:
    """Q1 (Neo4jQueryService.scala:76-117): global counts + edge-type
    histogram.  One pass over each table."""
    n = nodes.groupBy("label").count().collect()
    by_label = {r["label"]: r["count"] for r in n}
    hist = edge_type_histogram(edges).collect()
    return {
        "total_nodes": sum(by_label.values()),
        "total_relationships": edges.count(),
        "concept_count": by_label.get("Concept", 0),
        "chunk_count": by_label.get("Chunk", 0),
        "relationship_types": {r["rel"]: r["cnt"] for r in hist},
    }


def edge_type_histogram(edges: DataFrame) -> DataFrame:
    """Q1 core: `MATCH ()-[r]->() RETURN type(r), count(r) ORDER BY
    count DESC`."""
    return edges.groupBy("rel").agg(F.count("*").alias("cnt")).orderBy(
        F.desc("cnt"), "rel"
    )


def undirected_concept_edges(edges: DataFrame) -> DataFrame:
    """Concept<->Concept edges viewed undirected (Cypher `-[r]-`):
    union of both directions."""
    cc = edges.where((F.col("src_label") == "Concept") & (F.col("dst_label") == "Concept"))
    fwd = cc.select(
        F.col("src_id").alias("cid"), F.col("dst_id").alias("nbr_id"), "rel", "confidence", "evidence"
    )
    rev = cc.select(
        F.col("dst_id").alias("cid"), F.col("src_id").alias("nbr_id"), "rel", "confidence", "evidence"
    )
    return fwd.unionByName(rev)


def search_concepts(
    nodes: DataFrame, edges: DataFrame, pattern: str, top_k: int = 20
) -> DataFrame:
    """Q2 — the flagship (Neo4jQueryService.scala:304-428): substring
    match on lemma/surface, OPTIONAL MATCH to undirected concept
    neighbors, degree score + collect_set of neighbor lemmas, top-k by
    score.  Left join keeps zero-degree concepts (score 0)."""
    concepts = nodes.where(F.col("label") == "Concept").select(
        F.col("id").alias("concept_id"), "lemma", "surface", "origin"
    )
    matched = concepts.where(
        F.col("lemma").contains(pattern) | F.col("surface").contains(pattern)
    )
    und = undirected_concept_edges(edges)
    nbr = und.join(
        concepts.select(F.col("concept_id").alias("nbr_id"), F.col("lemma").alias("nbr_lemma")),
        "nbr_id",
    )
    joined = matched.join(nbr, matched.concept_id == nbr.cid, "left")
    return (
        joined.groupBy("concept_id", "lemma", "surface", "origin")
        .agg(
            F.count(F.col("cid")).alias("score"),
            F.sort_array(F.collect_set("nbr_lemma")).alias("related_lemmas"),
        )
        .orderBy(F.desc("score"), "concept_id")
        .limit(top_k)
    )


def chunks_mentioning(
    mentions: DataFrame, chunks_or_nodes: DataFrame, concept_id: str, limit: int = 100,
    require_exists: bool = True,
) -> DataFrame:
    """Q3 evidence/provenance (Neo4jQueryService.scala:126-192):
    chunks that MENTION a concept, LIMIT 100.  Ordered by chunk_id for
    a deterministic limit (the reference's LIMIT is storage-order).

    A concept id with NO mention rows raises KeyError, mirroring the
    reference's `NoSuchElementException("Concept not found")`
    (Neo4jQueryService.scala:141-143); pass ``require_exists=False``
    for the silent-empty behavior."""
    hits = mentions.where(F.col("concept_id") == concept_id).select("chunk_id").distinct()
    if require_exists and hits.limit(1).count() == 0:
        raise KeyError(f"Concept not found: {concept_id}")
    return (
        hits.join(chunks_or_nodes, "chunk_id")
        .orderBy("chunk_id")
        .limit(limit)
    )


def concept_neighbors(
    nodes: DataFrame, edges: DataFrame, concept_id: str, top_k: int = 20
) -> DataFrame:
    """Q4 (Neo4jQueryService.scala:201-295): undirected 1-hop distinct
    concept neighbors, LIMIT k (deterministic order added)."""
    und = undirected_concept_edges(edges).where(F.col("cid") == concept_id)
    concepts = nodes.where(F.col("label") == "Concept").select(
        F.col("id").alias("nbr_id"), "lemma", "surface", "origin"
    )
    return (
        und.select("nbr_id")
        .distinct()
        .join(concepts, "nbr_id")
        .orderBy("nbr_id")
        .limit(top_k)
    )


def neighbor_edges(edges: DataFrame, concept_id: str, top_k: int = 20) -> DataFrame:
    """Q4's companion edge listing: rel type/confidence/evidence."""
    und = undirected_concept_edges(edges).where(F.col("cid") == concept_id)
    return und.select("cid", "nbr_id", "rel", "confidence", "evidence").orderBy(
        "nbr_id", "rel"
    ).limit(top_k)


def group_results(results: DataFrame, lemma_col: str = "lemma") -> DataFrame:
    """Q5 (QueryRoute.scala:46-65): group by the lemma's first
    underscore-token, collecting members."""
    key = F.split(F.col(lemma_col), "_").getItem(0).alias("group_key")
    return results.groupBy(key).agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list(lemma_col)).alias("members"),
    )


def concept_neighbors_2hop(
    nodes: DataFrame, edges: DataFrame, concept_id: str, top_k: int = 50
) -> DataFrame:
    """2-hop undirected concept neighborhood: (nbr_id, min_hops) with
    min_hops in {1, 2}; the start node and 1-hop nodes are excluded
    from the 2-hop ring.  Two self-joins of the (narrow) undirected
    edge view — at 100 TB both joins shuffle on concept id, and the
    1-hop frontier is tiny so the second hop's probe side broadcasts."""
    und = undirected_concept_edges(edges).select("cid", "nbr_id").distinct()
    h1 = und.where(F.col("cid") == concept_id).select("nbr_id").distinct()
    h2 = (
        und.join(h1.withColumnRenamed("nbr_id", "cid"), "cid")
        .select("nbr_id")
        .distinct()
        .where(F.col("nbr_id") != concept_id)
        .join(h1, "nbr_id", "left_anti")
    )
    out = h1.withColumn("min_hops", F.lit(1)).unionByName(
        h2.withColumn("min_hops", F.lit(2))
    )
    return out.orderBy("min_hops", "nbr_id").limit(top_k)


def concept_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """PageRank over the undirected concept graph after a FIXED number
    of iterations — deterministic, so pytest pins it against a numpy
    oracle.  Join-shaped power iteration: ranks live in a (id, rank)
    table, one shuffle per iteration on the edge src; contributions
    aggregate map-side.  Dangling nodes can't exist in the undirected
    view (every node has out-degree >= 1).  localCheckpoint truncates
    the lineage each iteration like connected_components."""
    und = undirected_concept_edges(edges).select("cid", "nbr_id").distinct()
    return pagerank_und(und, damping=damping, iters=iters, top_k=top_k)


def pagerank_und(
    und: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    top_k: int = 20,
    weight_col: str | None = None,
    checkpoint_every: int = 3,
    init: DataFrame | None = None,
    prepared: bool = False,
) -> DataFrame:
    """Power iteration over an undirected (cid, nbr_id) edge view —
    the engine behind :func:`concept_pagerank`, reusable for any
    pre-built adjacency (e.g. the co-occurrence pair table).

    ``init``: optional (id, rank) warm-start vector — the INCREMENTAL
    mode.  After a small graph delta, restarting from the previous
    snapshot's scores converges in a fraction of the iterations a
    cold uniform start needs (power iteration's error decays
    geometrically from the starting distance, and yesterday's scores
    are already close): pass the stored ranks and a small ``iters``.
    Nodes absent from ``init`` (newly added) start at 1/n; stale
    entries for deleted nodes are ignored (inner-join semantics via
    the node-set left join).  The fixed-point is the same regardless
    of the start, so warm output converges to the same scores the
    full recompute produces — pinned by a numpy test and measured in
    BENCH/BASELINE.md.

    The adjacency is materialized ONCE (localCheckpoint): every
    iteration's job replays the ranks lineage from its own checkpoint,
    and without this the (possibly expensive) upstream of ``und`` —
    e.g. a full extraction pass — re-executes per iteration.  Each
    checkpoint is COALESCED to a size-derived partition count:
    materializing a tiny rank table at the session's full
    shuffle-partition count makes task scheduling the dominant cost
    (measured 22 s -> 7.5 s for 10 iterations on a 10k-edge graph);
    at billions of edges the same formula keeps full parallelism.

    ``checkpoint_every``: iterations per lineage truncation.  An
    eager checkpoint EVERY iteration pays a materialize+replay round
    trip per step; letting 2-5 join-agg rounds stay lazy between
    truncations halved the 10-iteration wall time on a 10k-edge graph
    (8.8 s -> 3.5 s warm) with bit-identical output.  Keep it small
    enough that the analyzed plan between truncations stays bounded
    (each un-truncated iteration nests two joins + an aggregate).

    ``weight_col``: edge-weighted PageRank — each neighbor receives
    rank * w(u,v) / strength(u) where strength = sum of u's edge
    weights (e.g. co-occurrence frequency); None = uniform."""
    sc = und.sparkSession.sparkContext
    wcols = ["cid", "nbr_id"] + ([weight_col] if weight_col else [])
    und = und.select(*wcols)
    if not prepared:
        # prepared=True: caller already dedup'd + checkpointed the
        # adjacency (node_features shares ONE materialization)
        und = und.distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    w_expr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    deg = und.groupBy("cid").agg(F.sum(w_expr).alias("deg"))
    # attach out-degree to the adjacency ONCE (guide §2.4: the deg
    # join is loop-invariant — re-joining it every iteration paid a
    # shuffle per round for a value that never changes); the per-edge
    # contribution expression (rank * w / deg) is unchanged, so the
    # per-key sums see identical terms
    undd = und.join(deg, "cid").localCheckpoint(eager=True)
    nodes_v = (
        undd.select(F.col("cid").alias("id"))
        .distinct()
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )
    n = nodes_v.count()
    # rank/contribution relations are node-cardinality: broadcast them
    # under a size gate so each iteration costs ONE shuffle (the
    # inflow aggregate) instead of three (guide §3.1 — broadcast the
    # side that fits; at web scale the gate falls back to shuffles)
    bcast = n <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    if init is not None:
        ranks = nodes_v.join(
            _b(init.select("id", F.col("rank").cast("double").alias("_r0"))),
            "id",
            "left",
        ).select("id", F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("rank"))
        ranks = ranks.coalesce(parts).localCheckpoint(eager=True)
    else:
        ranks = nodes_v.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        contribs = (
            undd.join(_b(ranks.withColumnRenamed("id", "cid")), "cid")
            .select(
                F.col("nbr_id").alias("id"),
                (F.col("rank") * (w_expr if weight_col else F.lit(1.0)) / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes_v.join(_b(contribs), "id", "left").select(
            "id",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            ranks = ranks.coalesce(parts).localCheckpoint(eager=True)
    out = ranks.select("id", F.round("rank", 8).alias("rank")).orderBy(
        F.desc("rank"), "id"
    )
    # top_k=None returns the full rank field (feature exports); a huge
    # top_k would silently turn the sort into a k-capped TakeOrdered
    return out if top_k is None else out.limit(top_k)


def personalized_pagerank(
    und: DataFrame,
    seeds: list[str],
    damping: float = 0.85,
    iters: int = 10,
    top_k: int = 20,
    checkpoint_every: int = 3,
    weight_col: str | None = None,
    prepared: bool = False,
) -> DataFrame:
    """Personalized PageRank: power iteration where the teleport mass
    (1 - damping) returns to the SEED set instead of spreading
    uniformly — rank concentrates around the seeds, decaying with
    graph distance.  This is the seed-expansion primitive a GraphRAG
    local search runs after entity linking: "given the entities the
    query mentions, which related entities matter enough to pull into
    context" (a ranked, walk-based generalization of the 1/2-hop
    neighbor queries).  Seeds are restricted to nodes present in the
    graph; teleport is uniform over that intersection; initial rank
    equals the teleport vector.  Deterministic: fixed iteration count,
    round(8) like :func:`pagerank_und`.

    Scale shape: identical per-iteration cost to :func:`pagerank_und`
    (adjacency materialized once, one join-agg shuffle per round,
    coalesced lineage truncation); the teleport is a literal IN
    predicate on the tiny seed list — no extra join.

    ``weight_col``: edge-weighted walk — a neighbor receives
    rank * w(u,v) / strength(u) with strength = sum of u's edge
    weights (e.g. co-occurrence frequency); None = uniform."""
    sc = und.sparkSession.sparkContext
    wcols = ["cid", "nbr_id"] + ([weight_col] if weight_col else [])
    und = und.select(*wcols)
    if not prepared:
        # prepared=True: caller already dedup'd + materialized the
        # adjacency (the pagerank_und seam) — skips the distinct
        # shuffle + checkpoint each PPR consumer otherwise re-pays
        und = und.distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    deg = und.groupBy("cid").agg(F.sum(w).alias("deg"))
    # loop-invariant degree pre-join + node-cardinality broadcasts
    # under a size gate — the pagerank_und iteration shape (one
    # shuffle per round: the inflow aggregate)
    undd = und.join(deg, "cid").localCheckpoint(eager=True)
    nodes_v = (
        undd.select(F.col("cid").alias("id"))
        .distinct()
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )
    present = sorted(
        r["id"] for r in nodes_v.where(F.col("id").isin(list(seeds))).collect()
    )
    if not present:
        return nodes_v.select(
            "id", F.lit(0.0).alias("rank")
        ).limit(0)
    k = len(present)
    teleport = F.when(F.col("id").isin(present), F.lit(1.0 / k)).otherwise(
        F.lit(0.0)
    )
    bcast = nodes_v.count() <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    ranks = nodes_v.withColumn("rank", teleport)
    for i in range(iters):
        contribs = (
            undd.join(_b(ranks.withColumnRenamed("id", "cid")), "cid")
            .select(
                F.col("nbr_id").alias("id"),
                (F.col("rank") * w / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes_v.join(_b(contribs), "id", "left").select(
            "id",
            (
                F.lit(1.0 - damping) * teleport
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            ranks = ranks.coalesce(parts).localCheckpoint(eager=True)
    return (
        ranks.where(F.col("rank") > 0)
        .select("id", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(top_k)
    )


def local_search(
    und: DataFrame,
    mentions: DataFrame,
    terms: list[str],
    damping: float = 0.85,
    iters: int = 10,
    top_k: int = 20,
    und_prepared: bool = False,
) -> DataFrame:
    """GraphRAG LOCAL search (Edge et al. 2024 §3.5): answer a query
    from the entity level up — the complement of :func:`global_search`.
    Three stages, all deterministic:

    1. **Entity linking**: each raw query term is normalized with the
       engine's own lemma rule and hashed to its concept id
       (``concept_id = sha256(lemma)[:16]``).  Because ids are
       content-derived, linking is a pure driver-side computation —
       no corpus scan, no index lookup, O(len(terms)).
    2. **Expansion**: :func:`personalized_pagerank` from the linked
       seeds over the co-occurrence graph — rank decays with graph
       distance, so the top-k is "the entities that matter to this
       query", not just the 1-hop ring.
    3. **Context assembly**: each surviving concept is joined to its
       mention statistics (display lemma, mention count, distinct
       supporting chunks) — the row a RAG stack needs to fetch
       evidence and build the context window.

    Output: (id, lemma, is_seed, rank, n_mentions, n_chunks),
    rank-desc, id tie-break.  Seeds absent from the graph are ignored;
    all-absent returns an empty frame (same contract as PPR).

    Scale shape: the expansion is the PPR iteration (one join-agg
    shuffle per round over the adjacency); the stats aggregate touches
    only (chunk_id, concept_id, lemma) — never text — and joins onto a
    top-k row set, which Spark broadcasts."""
    from ..functions.purecore import concept_id, normalize_lemma

    seeds = sorted({concept_id(normalize_lemma(t)) for t in terms})
    ranked = personalized_pagerank(
        und, seeds, damping=damping, iters=iters, top_k=top_k,
        prepared=und_prepared,
    )
    stats = mentions.groupBy(F.col("concept_id").alias("id")).agg(
        F.min("lemma").alias("lemma"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.count_distinct("chunk_id").cast("long").alias("n_chunks"),
    )
    return (
        ranked.join(stats, "id", "left")
        .select(
            "id",
            "lemma",
            F.col("id").isin(seeds).cast("long").alias("is_seed"),
            "rank",
            F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        )
        .orderBy(F.desc("rank"), "id")
        .limit(top_k)
    )


def node_features(
    und: DataFrame,
    pr_iters: int = 10,
    core_iters: int = 8,
    lpa_iters: int = 5,
    pr: DataFrame | None = None,
    core: DataFrame | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Per-node feature matrix for downstream node classification /
    GNN training: degree, coreness (h-index iteration), PageRank, and
    LPA community in one row per node — the tabular export that turns
    the graph-ML family into model inputs, exactly like
    :func:`q_rel_pivot` does for the event stream.  Returns
    (id, degree, coreness, pagerank, community) ordered by id.

    Scale shape: one adjacency materialization feeds all four
    computations; each is its own oracle-pinned primitive
    (:func:`pagerank_und` with ``top_k=None`` for the full field,
    :func:`coreness`, :func:`label_propagation`), and the final
    assembly is three hash equi-joins on the node id — at 10^12-doc
    scale the joins co-partition on the same key, so AQE plans them
    as one shuffle stage each with no resort."""
    adj = (
        und.select("cid", "nbr_id")
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("degree"))
    # the three iterative primitives are independent given the shared
    # checkpointed adjacency: run their driver loops as concurrent
    # threads (guide §2.6) so their small per-round stages interleave;
    # each primitive and the final assembly are unchanged
    # pr=/core=/labels= let a caller inject already-materialized
    # primitives (the bowtie labels= seam): kg_pagerank / kg_coreness /
    # the LPA family stage the identical relations, so re-running the
    # three iterative loops here would recompute what the session has
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_pr = (
            None if pr is not None
            else ex.submit(pagerank_und, adj, iters=pr_iters, top_k=None, prepared=True)
        )
        f_core = (
            None if core is not None
            else ex.submit(coreness, adj, iters=core_iters, prepared=True)
        )
        f_lab = (
            None if labels is not None
            else ex.submit(label_propagation, adj, iters=lpa_iters, prepared=True)
        )
        pr = pr if f_pr is None else f_pr.result()
        core = core if f_core is None else f_core.result()
        labels = labels if f_lab is None else f_lab.result()
    return (
        deg.select(F.col("cid").alias("id"), "degree")
        .join(core, "id")
        .join(pr, "id")
        .join(labels, "id")
        .select(
            "id",
            "degree",
            "coreness",
            F.col("rank").alias("pagerank"),
            F.col("label").alias("community"),
        )
        .orderBy("id")
    )


def shortest_path_between(
    wund: DataFrame,
    src: str,
    dst: str,
    iters: int = 6,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Shortest weighted path BETWEEN two concepts, with the actual
    path reconstructed — the "how are X and Y related?" explainability
    surface a GraphRAG answer cites (:func:`shortest_paths` gives the
    distance field; this returns the witness).  Bellman-Ford with a
    predecessor column: each round relaxes every edge out of the
    reached set and keeps, per node, the lexicographic minimum of
    (dist, pred) — positive weights make the path dist-increasing, so
    (dist, pred) is a total order and the witness is deterministic
    (equal-length paths resolve to the smallest predecessor id; a
    1-ulp float tie cannot flip engines because both compute each
    path's dist by the same left-to-right addition sequence, so the
    candidate (dist, pred) SETS are identical).  Returns (step, id,
    dist) from src (step 0) to dst, empty if dst is unreachable within
    ``iters`` edges.

    Scale shape: the relaxation is :func:`shortest_paths` plus one
    narrow pred column.  The per-node (dist, pred) argmin is TWO hash
    aggregates and one equi-join — min dist per node, then min pred
    among the rows at that dist — never a window or a struct-min:
    both of those sort the whole candidate relation every round
    (measured 17.7x at the 10x corpus vs 4.8x for this form; the
    sandbox-measured rule that struct agg buffers fall back to
    SortAggregate).  The walk-back joins a ONE-row broadcast frontier
    against the final distance relation ``iters`` times — never a
    collect of the distance field."""
    sc = wund.sparkSession.sparkContext
    wund = (
        wund.select("cid", "nbr_id", F.col("w").cast("double").alias("w"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = wund.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    wund = wund.coalesce(parts)
    spark = wund.sparkSession
    dist = spark.createDataFrame(
        [(src, 0.0, None)], "id string, dist double, pred string"
    )
    for k in range(1, iters + 1):
        cand = (
            dist.join(wund, dist["id"] == wund["cid"])
            .select(
                F.col("nbr_id").alias("id"),
                (F.col("dist") + F.col("w")).alias("dist"),
                dist["id"].alias("pred"),
            )
            .unionByName(dist)
        )
        # ONE aggregate for the per-node (dist, pred) argmin: the old
        # two-aggregate form (min dist, join back, min pred) referenced
        # cand TWICE, doubling the logical tree per round — Catalyst
        # planning went exponential (measured 4.6 s inside one
        # localCheckpoint's toRdd at round 3, pure driver time) and the
        # candidate relation executed twice per round.  min_by over the
        # narrow struct(dist, pred) key returns the pred of the minimal
        # (dist, pred) row — identical output: that row's dist IS
        # min(dist), its pred IS the min pred among min-dist rows, and
        # the only NULL pred (the src seed) sits at the strict dist
        # minimum 0.0 (positive weights), so null ordering never
        # decides.  Duplicate (dist, pred) candidates are identical
        # rows, so ties cannot produce nondeterminism.
        dist = cand.groupBy("id").agg(
            F.min("dist").alias("dist"),
            F.min_by("pred", F.struct("dist", "pred")).alias("pred"),
        )
        if k % checkpoint_every == 0 or k == iters:
            # LAZY truncation: this loop has no per-round fixpoint
            # probe (fixed iteration count), so nothing needs the
            # checkpoint materialized before the caller's single
            # action — eager checkpoints here paid one driver-
            # synchronized job per truncation for no reader (the CC
            # one-action-per-round discipline, applied to the
            # zero-probe case)
            dist = dist.coalesce(parts).localCheckpoint(eager=False)
    frontier = dist.where(F.col("id") == dst)
    path = frontier
    for _ in range(iters):
        want = F.broadcast(
            frontier.where(F.col("pred").isNotNull()).select(
                F.col("pred").alias("_want")
            )
        )
        frontier = dist.join(want, dist["id"] == F.col("_want")).select(
            "id", "dist", "pred"
        )
        path = path.unionByName(frontier)
    step = F.row_number().over(Window.orderBy(F.col("dist").asc())) - 1
    return (
        path.distinct()
        .select(step.alias("step"), "id", F.round("dist", 6).alias("dist"))
        .orderBy("step")
    )


def context_pack(
    und: DataFrame,
    mentions: DataFrame,
    chunks: DataFrame,
    terms: list[str],
    token_budget: int = 150,
    top_entities: int = 10,
    evidence_per_entity: int = 3,
    snippet_chars: int = 200,
    damping: float = 0.85,
    iters: int = 10,
    und_prepared: bool = False,
) -> DataFrame:
    """The GraphRAG last mile: assemble the LLM context window for a
    query under a token budget.  :func:`local_search`'s entity linking
    + PPR expansion picks the ``top_entities`` query-relevant
    concepts; each contributes up to ``evidence_per_entity`` evidence
    snippets (first ``snippet_chars`` chars of the mentioning chunk);
    snippets are then packed greedily in (entity rank desc, id,
    chunk_id) order until the cumulative whitespace-token count
    exceeds ``token_budget``.  Output: (pos, id, chunk_id, rank,
    n_tokens, cum_tokens, snippet) — exactly the rows that go into the
    prompt, in prompt order, with the running budget visible.

    Scale shape: PPR is the only graph-sized work; everything after it
    operates on a top_entities x evidence_per_entity bounded row set
    (30 rows at the defaults), so the global packing window — a
    single-partition sort, normally a red flag — is bounded by
    construction, not by data volume.  The mention join pushes the
    top-entity filter into the scan side before any text is touched;
    chunk text joins against the capped evidence set (broadcast-sized
    probe), never the full corpus."""
    from ..functions.purecore import concept_id, normalize_lemma

    seeds = sorted({concept_id(normalize_lemma(t)) for t in terms})
    ranked = personalized_pagerank(
        und, seeds, damping=damping, iters=iters, top_k=top_entities,
        prepared=und_prepared,
    )
    ev = (
        mentions.select(F.col("concept_id").alias("id"), "chunk_id")
        .distinct()
        .join(F.broadcast(ranked), "id")
    )
    per = Window.partitionBy("id").orderBy("chunk_id")
    ev = ev.withColumn("erk", F.row_number().over(per)).where(
        F.col("erk") <= evidence_per_entity
    )
    snippet = F.substring(F.col("text"), 1, snippet_chars)
    toks = F.size(
        F.filter(F.split(F.trim(snippet), r"\s+"), lambda x: x != "")
    )
    units = ev.join(chunks, "chunk_id").select(
        "id",
        "chunk_id",
        "rank",
        snippet.alias("snippet"),
        toks.cast("long").alias("n_tokens"),
    )
    order = [F.desc("rank"), F.col("id"), F.col("chunk_id")]
    w = Window.orderBy(*order)
    packed = units.select(
        F.row_number().over(w).alias("pos"),
        "id",
        "chunk_id",
        "rank",
        "n_tokens",
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_tokens"),
        "snippet",
    )
    return packed.where(F.col("cum_tokens") <= token_budget).orderBy("pos")


def bfs_distances(
    und: DataFrame, source_id: str, max_hops: int = 6
) -> DataFrame:
    """Breadth-first distances from ``source_id`` over an undirected
    (cid, nbr_id) edge view: (id, dist) for every node within
    ``max_hops``.  Frontier-expansion joins — each round shuffles only
    the CURRENT frontier against the adjacency, and visited nodes are
    pruned with an anti-join, so per-round cost tracks the frontier,
    not the graph.  The adjacency is materialized once (same reasoning
    as pagerank_und); rounds end early when a frontier empties."""
    sc = und.sparkSession
    und = und.select("cid", "nbr_id").distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = max(1, min(sc.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    visited = sc.createDataFrame([(source_id, 0)], "id string, dist int").coalesce(1)
    frontier = visited
    # one driver action per hop: the frontier's lazy checkpoint is
    # materialized by its emptiness count; the visited union stays
    # lazy (shallow — parents are checkpointed) until the next hop or
    # the caller's action
    for hop in range(1, max_hops + 1):
        nxt = (
            und.join(frontier.withColumnRenamed("id", "cid"), "cid")
            .select(F.col("nbr_id").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("dist", F.lit(hop))
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).coalesce(parts).localCheckpoint(eager=False)
        frontier = nxt
    return visited.orderBy("dist", "id")


def label_propagation(
    und: DataFrame,
    iters: int = 5,
    checkpoint_every: int = 2,
    weight_col: str | None = None,
    prepared: bool = False,
    anti_oscillation: bool = False,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over an
    undirected (cid, nbr_id) edge view: every node starts labeled with
    its own id; each round it adopts the label most frequent among its
    neighbors, ties broken by the lexicographically smallest label.
    Majority vote (not min-label — that degenerates to connected
    components) preserves local community structure; the fixed
    iteration count plus the deterministic tie-break makes the output
    a pure function of the graph, so it is pinned by an exact Python
    oracle and a DuckDB unrolled-CTE oracle (synchronous LPA can
    oscillate on bipartite structures, so the result is defined as
    "the labeling after ``iters`` synchronous rounds", not a fixed
    point).  This is the community primitive of the GraphRAG method
    (Edge et al. 2024, arXiv:2404.16130) the reference pipeline feeds
    into — parity-plus for this engine.

    Scale shape: one shuffle per round for the vote groupBy; the
    argmax is ``min(struct(-count, label))``, which compiles to a
    SortAggregate (struct/string agg buffers are never
    hash-aggregable) — but over 24-byte (long, label) vote rows the
    per-partition sort is cheap, and it MEASURES 2.4x FASTER than the
    all-hash two-phase rewrite (votes -> max(c) -> equi-join back ->
    min(label)): 2.86 s vs 6.79 s per round on a 5M-edge/500k-node
    graph at local[32], because two-phase pays two extra exchanges
    and a join.  This is the narrow-struct exception to the
    wide-struct SortAggregate pathology documented in
    catalog.merge_upsert (there the buffer carries full row payloads;
    here it is two words).  The adjacency is materialized once and
    lineage is truncated every ``checkpoint_every`` rounds, same
    regime as :func:`pagerank_und`.

    ``weight_col``: optional long edge-weight column — votes become
    ``sum(weight)`` instead of edge counts (used by the hierarchy
    level-1 pass, where the contracted graph's weights are
    inter-community edge multiplicities).  Weights must be integral so
    the argmax tie-break stays exact.

    ``anti_oscillation=True``: each round becomes TWO hash-parity
    half-sweeps — nodes with ``pmod(xxhash64(id), 2) == 0`` update
    first, then the odd-parity nodes vote against the ALREADY-UPDATED
    labels.  This is the standard async-by-coloring fix for the
    synchronous-LPA oscillation on bipartite structures (a 2-node
    component flips a<->b forever under the default; under parity
    sweeps the second node sees the first's new label and the pair
    reaches a fixed point).  Still fully deterministic (the parity is
    a pure hash of the id), costs one extra vote join per round, and
    is OFF by default so the driver-oracled kg_communities* outputs
    are unchanged.
    """
    sc = und.sparkSession.sparkContext
    cols = ["cid", "nbr_id"] + ([weight_col] if weight_col else [])
    und = und.select(*cols)
    if not prepared:
        # prepared=True: caller already dedup'd + checkpointed
        if not weight_col:
            und = und.distinct()
        und = und.localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    labels = und.select(F.col("cid").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    vote = F.sum(weight_col) if weight_col else F.count(F.lit(1))
    # label vector is node-cardinality: broadcast it into the vote
    # join under a size gate (guide §3.1) — the per-round shuffles are
    # then only the two vote aggregates
    bcast = n_edges <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    def _argmax_vote(edges: DataFrame, labs: DataFrame) -> DataFrame:
        votes = (
            edges.join(_b(labs.withColumnRenamed("id", "nbr_id")), "nbr_id")
            .groupBy(F.col("cid").alias("id"), "label")
            .agg(vote.alias("c"))
        )
        return votes.groupBy("id").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("w")
        ).select("id", F.col("w.label").alias("label"))

    for i in range(iters):
        if anti_oscillation:
            # two deterministic half-sweeps: one parity class updates
            # against the old labels, the other against the
            # half-updated ones (async-by-coloring — flips cannot stay
            # synchronized).  The parity is ROUND-DEPENDENT
            # (xxhash64(id, round)): a fixed per-id parity would leave
            # any component whose nodes all share a parity fully
            # synchronous (and still oscillating); re-drawing the
            # 2-coloring each round splits every adjacent flip pair
            # within a handful of rounds, after which the merged label
            # is self-sustaining.  Every node in `labels` has >= 1
            # edge by construction, so each half covers its parity.
            for p in (0, 1):
                upd = _argmax_vote(
                    und.where(F.pmod(F.xxhash64("cid", F.lit(i)), F.lit(2)) == p),
                    labels,
                )
                labels = labels.where(
                    F.pmod(F.xxhash64("id", F.lit(i)), F.lit(2)) != p
                ).unionByName(upd)
        else:
            labels = _argmax_vote(und, labels)
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            labels = labels.coalesce(parts).localCheckpoint(eager=True)
    return labels


def modularity(und: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a community partition over the undirected
    graph: ``Q = sum_c e_c/m - (d_c/2m)^2`` with e_c the
    intra-community edge count, d_c the community degree mass, m the
    undirected edge count — the quality gate a Louvain/Leiden loop
    would optimize, surfaced here as the score of the LPA partition
    (GraphRAG community index health).

    Determinism: floating sums over a shuffled dataset are
    order-sensitive, so Q is assembled from three EXACT integer
    aggregates (sum_c e_c, sum_c d_c^2, m) and divided once on a
    single row — bit-stable across partitionings and engines.  One
    row out: (n_communities, m, modularity).

    Scale shape: two label joins against the edge view (label table
    is node-sized but the join is a plain shuffled equi-join on id),
    one groupBy per aggregate; everything else is scalar arithmetic.
    """
    und = und.select("cid", "nbr_id").distinct()
    lab = labels.select("id", "label")
    both = (
        und.join(lab.withColumnRenamed("id", "cid"), "cid")
        .withColumnRenamed("label", "la")
        .join(
            lab.withColumnRenamed("id", "nbr_id").withColumnRenamed("label", "lb"),
            "nbr_id",
        )
    )
    # symmetric view counts every undirected edge twice — intra rows
    # 2*e_c, degree rows 2m; the algebra below uses those directly
    per_c = (
        both.groupBy("la")
        .agg(
            F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)).alias("e2"),
            F.count(F.lit(1)).alias("d"),
        )
        .agg(
            F.sum("e2").alias("sum_e2"),
            # d_c^2 overflows BIGINT once d_c > ~3e9 (any 10^12-edge
            # graph has hub communities past that) — aggregate exact
            # in decimal(38,0), drop to double only for the one-row
            # division where 1e-16 relative error is invisible at the
            # 6-decimal output precision
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sum_d2"),
            F.sum("d").alias("m2"),
            F.count(F.lit(1)).alias("n_communities"),
        )
    )
    m2d = F.col("m2").cast("double")
    return per_c.select(
        "n_communities",
        (F.col("m2") / 2).cast("bigint").alias("m"),
        F.round(
            F.col("sum_e2").cast("double") / m2d
            - F.col("sum_d2").cast("double") / (m2d * m2d),
            6,
        ).alias("modularity"),
    )


def conductance(und: DataFrame, labels: DataFrame, top_k: int = 20) -> DataFrame:
    """Per-community conductance ``phi = cut / min(vol, 2m - vol)``
    for the ``top_k`` largest communities — the boundary-quality
    complement to :func:`modularity` (a well-separated community has
    few cut edges relative to its volume).  All-integer aggregates
    (cut and volume counted on the symmetric edge view) with one
    division per output row.

    Scale shape: identical to modularity — two label joins against
    the edge view, one groupBy; top_k communities selected by member
    count first so the output is bounded."""
    und = und.select("cid", "nbr_id").distinct()
    lab = labels.select("id", "label")
    both = (
        und.join(lab.withColumnRenamed("id", "cid"), "cid")
        .withColumnRenamed("label", "la")
        .join(
            lab.withColumnRenamed("id", "nbr_id").withColumnRenamed("label", "lb"),
            "nbr_id",
        )
    )
    m2 = both.count()  # symmetric rows = 2m
    per_c = both.groupBy(F.col("la").alias("community")).agg(
        F.sum(F.when(F.col("la") != F.col("lb"), 1).otherwise(0)).alias("cut"),
        F.count(F.lit(1)).alias("vol"),
    )
    sizes = lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    denom = F.least(F.col("vol"), F.lit(m2) - F.col("vol"))
    return (
        per_c.join(sizes, "community")
        .select(
            "community",
            "n_members",
            "cut",
            "vol",
            F.when(denom > 0, F.round(F.col("cut") / denom, 6))
            .otherwise(F.lit(0.0))
            .alias("conductance"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(top_k)
    )


def incremental_communities(
    base_und: DataFrame,
    delta_und: DataFrame,
    iters: int = 5,
    checkpoint_every: int = 2,
    base_labels: DataFrame | None = None,
    base_comp: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incrementally refresh the community index — LPA labels AND the
    connected-component index — after a delta edge batch, recomputing
    ONLY the components the delta touches (the touched-region update of
    DISC, ICDE 2021).  This is the one place the engine applies that
    rule: ``plans/refresh.py`` calls it with the stored tables.

    Exactness theorem: synchronous LPA seeds every node with its own
    id and votes only over direct neighbors, so a component's final
    labeling is a pure function of that component's edge set.  A
    component with no delta endpoint has an identical edge set in the
    base and merged graphs, hence identical labels — its stored labels
    are reused verbatim.  Every component that gains an edge (or is
    merged with another by one) is re-run on its exact merged edge
    set, which matches the full-graph run because LPA never crosses
    component boundaries.  Therefore the labels EQUAL full-graph LPA
    row-for-row; the driver pins this by grading the incremental plan
    against the full-graph unrolled-CTE oracle (hash-exact).

    Components: deltas only ever MERGE components, so CC over (delta
    edges + one (id, component) mapping edge per touched node)
    reproduces the full-graph result for every touched node — the
    mapping edges contract each old component to its min-id
    representative in one round, and min-id over the merged node set
    equals the full recompute's representative.  Untouched rows are
    reused verbatim.

    Cost shape at 100 TB: one broadcast semi-join of the delta
    endpoints against the stored component index (materialized once,
    shared by both outputs), one semi-join to carve the affected
    subgraph, an LPA run sized by the affected components, and a CC
    over delta + mapping edges — O(touched), not O(graph).

    ``base_labels`` / ``base_comp``: the STORED (id, label) table and
    (id, component) index of the base graph.  When omitted (the
    driver-oracle demo path) both are recomputed from ``base_und`` so
    the function stays self-contained; stored tables MUST describe
    exactly ``base_und`` (labels from :func:`label_propagation` at the
    same ``iters``) or the exactness argument above does not apply.

    ``base_und`` / ``delta_und``: symmetric (cid, nbr_id) edge views;
    the merged graph is their union.  Returns ``(labels, components)``:
    (id, label) and (id, component) for every node of the merged graph.
    """
    from ..operators import canonicalize

    base_und = base_und.select("cid", "nbr_id").distinct()
    delta_und = delta_und.select("cid", "nbr_id").distinct()
    if base_labels is None:
        base_labels = label_propagation(
            base_und, iters=iters, checkpoint_every=checkpoint_every
        )
    base_labels = base_labels.select("id", "label")
    if base_comp is None:
        base_comp = canonicalize.connected_components(
            base_und, src="cid", dst="nbr_id"
        )
    base_comp = base_comp.select("id", "component")
    delta_nodes = delta_und.select(F.col("cid").alias("id")).distinct()
    # components hit by any delta endpoint — small: one per touched
    # community, broadcast back to carve the touched node set, which
    # both outputs read (materialized once)
    affected = base_comp.join(delta_nodes, "id").select("component").distinct()
    touched = base_comp.join(F.broadcast(affected), "component").localCheckpoint(
        eager=True
    )
    refresh_nodes = (
        touched.select("id").unionByName(delta_nodes).distinct()  # + new nodes
    )

    merged = base_und.unionByName(delta_und).distinct()
    # affected components are edge-closed: filtering on cid keeps the
    # symmetric partner row (nbr is in the same component)
    refresh_und = merged.join(refresh_nodes.withColumnRenamed("id", "cid"), "cid")
    refreshed = label_propagation(
        refresh_und, iters=iters, checkpoint_every=checkpoint_every
    )
    labels = base_labels.join(refresh_nodes, "id", "left_anti").unionByName(
        refreshed
    )

    mapping_edges = touched.select(
        F.col("id").alias("cid"), F.col("component").alias("nbr_id")
    )
    new_comp = canonicalize.connected_components(
        delta_und.unionByName(mapping_edges), src="cid", dst="nbr_id"
    )
    comp = base_comp.join(new_comp.select("id"), "id", "left_anti").unionByName(
        new_comp
    )
    return labels, comp


def community_hierarchy(
    und: DataFrame,
    iters: int = 5,
    checkpoint_every: int = 2,
    l0: DataFrame | None = None,
) -> DataFrame:
    """Two-level GraphRAG community hierarchy: (id, label_l0,
    label_l1).  Level 0 is plain LPA; level 1 re-runs LPA on the
    CONTRACTED graph — one node per level-0 community, edges between
    communities weighted by inter-community edge multiplicity (the
    Louvain/Leiden contraction step, with LPA as the per-level
    clusterer; GraphRAG's level-C0/C1 community structure, Edge et
    al. 2024 §3.2).  label_l1 is constant within a label_l0 group, so
    the hierarchy is strictly nested by construction.

    Scale shape: the contraction is one self-joined relabel of the
    edge list (two broadcast-sized label joins) + a groupBy to sum
    multiplicities; the level-1 LPA then runs on a graph no larger
    than the community count — typically orders of magnitude smaller
    than the input, so the second level is nearly free.  Weighted
    votes keep the contracted multigraph's edge mass (an unweighted
    pass would treat a 1000-edge bridge like a single edge)."""
    # l0= lets a caller inject an already-materialized level-0 LPA
    # (the kmeans_assign(cents=...) seam): same relation, computed once
    if l0 is None:
        l0 = label_propagation(und, iters=iters, checkpoint_every=checkpoint_every)
    relabel = (
        und.select("cid", "nbr_id")
        .distinct()
        .join(l0.withColumnRenamed("id", "cid").withColumnRenamed("label", "la"), "cid")
        .join(l0.withColumnRenamed("id", "nbr_id").withColumnRenamed("label", "lb"), "nbr_id")
        .where(F.col("la") != F.col("lb"))
        .groupBy(F.col("la").alias("cid"), F.col("lb").alias("nbr_id"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    l1 = label_propagation(
        relabel, iters=iters, checkpoint_every=checkpoint_every, weight_col="w"
    )
    return (
        l0.select("id", F.col("label").alias("label_l0"))
        .join(
            l1.select(
                F.col("id").alias("label_l0"), F.col("label").alias("label_l1")
            ),
            "label_l0",
            "left",
        )
        # isolated level-0 communities (no cross-community edge) are
        # their own level-1 community
        .select(
            "id",
            "label_l0",
            F.coalesce("label_l1", "label_l0").alias("label_l1"),
        )
    )


def triangle_counts(und: DataFrame, top_k: int = 100) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected (cid, nbr_id) view — (id, degree, triangles,
    clustering), triangles desc / id asc, top-k.  Clustering structure
    is the standard quality probe for the co-occurrence graph the KG
    is built from (a concept whose neighbors interconnect is a topical
    hub, not a stopword-like hitchhiker).

    Algorithm: the degree-oriented wedge join (the MapReduce-classic
    skew bound).  Each undirected edge is oriented from its lower
    (degree, id) endpoint to the higher; wedges are enumerated only at
    their minimum-degree apex, so a degree-d hub produces O(d) wedges
    when its neighbors are higher-degree instead of C(d,2) — oriented
    out-degree is O(sqrt(m)) for any graph, which caps the self-join
    blowup that a naive adjacency wedge join suffers on hub nodes.
    Each triangle is counted exactly once (at its unique apex), then
    credited to all three corners with one explode + hash aggregate.
    Shuffles: degree groupBy, orientation join, wedge self-join on
    apex, closing-edge equi-join, corner groupBy — all key-partitioned
    equi-joins, no cartesian anywhere."""
    edges = (
        und.select(
            F.least("cid", "nbr_id").alias("lo"),
            F.greatest("cid", "nbr_id").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    deg = (
        edges.select(F.col("lo").alias("id"))
        .unionAll(edges.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("id").alias("lo"), F.col("degree").alias("dlo"))
    db = deg.select(F.col("id").alias("hi"), F.col("degree").alias("dhi"))
    oriented = (
        edges.join(da, "lo")
        .join(db, "hi")
        .select(
            F.when(F.col("dlo") <= F.col("dhi"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("src"),
            F.when(F.col("dlo") <= F.col("dhi"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("d2"))
    wedges = o1.join(o2, "src").where(F.col("d1") < F.col("d2"))
    tris = wedges.join(
        edges,
        (F.col("d1") == F.col("lo")) & (F.col("d2") == F.col("hi")),
    ).select("src", "d1", "d2")
    corners = (
        tris.select(F.col("src").alias("id"))
        .unionAll(tris.select(F.col("d1").alias("id")))
        .unionAll(tris.select(F.col("d2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(corners, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                ).otherwise(0.0),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.desc("triangles"), "id")
        .limit(top_k)
    )


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (lo, hi) edge set —
    the k-truss inner step.  Triangles are enumerated once at their
    minimum-degree apex via the same degree-oriented wedge join as
    :func:`triangle_counts` (oriented out-degree is O(sqrt(m)), so hub
    wedges stay bounded), then each triangle credits its three edges
    through one 3-way union + hash aggregate.  Returns (lo, hi,
    support) for edges in >= 1 triangle only — callers left-join."""
    deg = (
        edges.select(F.col("lo").alias("id"))
        .unionAll(edges.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("id").alias("lo"), F.col("degree").alias("dlo"))
    db = deg.select(F.col("id").alias("hi"), F.col("degree").alias("dhi"))
    oriented = (
        edges.join(da, "lo")
        .join(db, "hi")
        .select(
            F.when(F.col("dlo") <= F.col("dhi"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("src"),
            F.when(F.col("dlo") <= F.col("dhi"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("d2"))
    tris = (
        o1.join(o2, "src")
        .where(F.col("d1") < F.col("d2"))
        .join(edges, (F.col("d1") == F.col("lo")) & (F.col("d2") == F.col("hi")))
        .select("src", "d1", "d2")
    )
    sides = tris.select(
        F.least("src", "d1").alias("lo"), F.greatest("src", "d1").alias("hi")
    ).unionAll(
        tris.select(F.least("src", "d2").alias("lo"), F.greatest("src", "d2").alias("hi"))
    ).unionAll(
        tris.select(F.col("d1").alias("lo"), F.col("d2").alias("hi"))
    )
    return sides.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("support"))


def tie_strength(und: DataFrame, top_k: int = 50) -> DataFrame:
    """Granovetter tie-strength census over the EXISTING co-occurrence
    edges (Granovetter 1973; Onnela et al. 2007's neighborhood-overlap
    operationalization): per edge the common-neighbor count (triangle
    support) and embeddedness = |N(a)∩N(b)| / |N(a)∪N(b)∖{a,b}| —
    the adjacent-pair complement of :func:`link_prediction` (which
    scores NON-adjacent pairs).  Embedded edges are intra-community
    "strong ties" a GraphRAG context pruner should keep; support-0
    edges are local bridges (the weak ties that carry cross-community
    reach, the structure-based twin of the label-based
    kg_community_bridges).  Returns (a_id, b_id, degree_a, degree_b,
    common_nbrs, embeddedness) rounded to 6 dp, embeddedness desc /
    a_id / b_id, top-k — a deterministic total order.

    Scale shape: one canonical edge materialization (localCheckpoint,
    reused by the degree agg, the wedge join, and the final join),
    triangle support via the same degree-oriented wedge join as
    :func:`triangle_counts` (oriented out-degree O(sqrt(m)) caps hub
    wedges), then two broadcast-shaped degree joins + one left join —
    all key-partitioned equi-joins.  Degree-1–degree-1 edges have an
    empty neighborhood union; embeddedness is defined 0.0 there."""
    edges = (
        und.select(
            F.least("cid", "nbr_id").alias("lo"),
            F.greatest("cid", "nbr_id").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("lo").alias("id"))
        .unionAll(edges.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    sup = _edge_support(edges)
    j = (
        edges.join(deg.select(F.col("id").alias("lo"), F.col("d").alias("degree_a")), "lo")
        .join(deg.select(F.col("id").alias("hi"), F.col("d").alias("degree_b")), "hi")
        .join(sup, ["lo", "hi"], "left")
        .select(
            "lo", "hi", "degree_a", "degree_b",
            F.coalesce("support", F.lit(0)).alias("common_nbrs"),
        )
    )
    den = (
        F.col("degree_a") + F.col("degree_b") - F.lit(2) - F.col("common_nbrs")
    )
    emb = F.when(den == 0, F.lit(0.0)).otherwise(
        F.col("common_nbrs").cast("double") / den
    )
    return (
        j.select(
            F.col("lo").alias("a_id"),
            F.col("hi").alias("b_id"),
            "degree_a",
            "degree_b",
            "common_nbrs",
            F.round(emb, 6).alias("embeddedness"),
        )
        .orderBy(F.desc("embeddedness"), "a_id", "b_id")
        .limit(top_k)
    )


def ktruss(und: DataFrame, k: int = 12, iters: int = 3) -> DataFrame:
    """Iterated k-truss peeling over the undirected (cid, nbr_id) view:
    each round drops every edge in fewer than k-2 triangles, then
    support is recomputed on the survivors.  The k-truss is the
    edge-level cohesion analogue of coreness — it isolates the densely
    interlocked topical cores of the co-occurrence graph while
    shedding bridge/hitchhiker edges that a node-level filter keeps.
    Output: (a_id, b_id, support) for edges surviving ``iters`` rounds,
    with support measured WITHIN the surviving subgraph (0 when a
    survivor's triangles all died in the final round), ordered.

    Semantics are "after ``iters`` peel rounds" — deterministic and
    oracle-checkable like the LPA/coreness families; on the test
    graphs 2 rounds reach the fixpoint, so iters=3 IS the k-truss
    there.  Scale shape: every round is the skew-bounded oriented
    wedge join of :func:`_edge_support` plus one hash aggregate —
    one shuffle family per round, graph-sized (never corpus-sized)
    inputs; localCheckpoint() truncates the per-round lineage exactly
    like pagerank's iteration (re-planning an N-round join tree
    otherwise compounds)."""
    edges = (
        und.select(
            F.least("cid", "nbr_id").alias("lo"),
            F.greatest("cid", "nbr_id").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(iters):
        sup = _edge_support(edges)
        edges = (
            edges.join(sup, ["lo", "hi"], "left")
            .where(F.coalesce("support", F.lit(0)) >= k - 2)
            .select("lo", "hi")
            .localCheckpoint()
        )
    final = _edge_support(edges)
    return (
        edges.join(final, ["lo", "hi"], "left")
        .select(
            F.col("lo").alias("a_id"),
            F.col("hi").alias("b_id"),
            F.coalesce("support", F.lit(0)).alias("support"),
        )
        .orderBy("a_id", "b_id")
    )


def graph_stats(und: DataFrame) -> DataFrame:
    """One-row structural summary of the concept graph: node/edge
    counts, degree stats, density, triangle count, and the global
    clustering coefficient (3T/W) — the health dashboard a graph
    build emits after every merge.  Reuses the degree-oriented
    triangle machinery of :func:`triangle_counts` (same skew bound),
    then reduces everything in a single hash aggregate."""
    tc = triangle_counts(und, top_k=2_147_483_647)
    n = F.count(F.lit(1))
    wedges2 = F.sum(F.col("degree") * (F.col("degree") - 1))
    return tc.agg(
        n.cast("long").alias("n_nodes"),
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
        F.max("degree").cast("long").alias("max_degree"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
        F.round(F.sum("degree") / (n * (n - F.lit(1.0))), 6).alias("density"),
        (F.sum("triangles") / 3).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                wedges2 > 0,
                F.sum("triangles") / (wedges2 / F.lit(2.0)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("global_clustering"),
    )


def spanning_forest(
    edges: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    weight_col: str | None = None,
    mode: str = "max",
    max_rounds: int = 16,
) -> DataFrame:
    """Borůvka spanning forest over an undirected weighted edge list
    -> the selected forest edges (a_id, b_id, w).  ``mode="max"`` is
    the maximum-weight spanning forest — on a co-occurrence concept
    graph this is the Chow-Liu-style backbone: the strongest
    association tree a graph summarizer or taxonomy bootstrapper
    keeps when it must thin 10^11 candidate edges to O(n).

    Determinism/exactness: edges are ranked by the strict total order
    (±w, a_id, b_id) — equivalent to all-distinct weights — so the
    forest is THE unique spanning forest for that order (matroid
    exchange), independent of partitioning or round schedule; the
    DuckDB oracle unrolls the same rounds and must agree hash-exactly.

    Algorithm (classic distributed Borůvka, e.g. GraphX/Pregel MSF):
    each round every component picks its best incident crossing edge
    (one hash-agg argmin via ``min_by`` over a struct key — ties
    impossible by the total order), the picks join the forest, and
    components re-label.  Per-component-min picks can never close a
    cycle under distinct weights, so no cycle check is needed.

    Scale shape: components at least halve every round, so rounds <=
    log2(V) (16 covers 65k-component graphs after round one; the loop
    breaks on the first round with zero crossing edges and RAISES if
    the budget is exhausted first — loud, never wrong).  Each round
    costs two hash joins + one hash agg over the still-crossing edge
    set (shrinks monotonically) — the textbook O(E log V).  The
    re-label runs :func:`~..operators.canonicalize.connected_components`
    over the FOREST edges only (<= V-1 rows), so relabeling is
    node-bound, never edge-bound; per-round relations are
    localCheckpoint-truncated like every other iterative op here.
    """
    from ..operators import canonicalize

    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("a_id"),
            F.greatest(F.col(a), F.col(b)).alias("b_id"),
            (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("w"),
        )
        .where(F.col("a_id") != F.col("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sign = -1 if mode == "max" else 1
    key = F.struct(
        (F.col("w") * sign).alias("kw"), F.col("a_id"), F.col("b_id")
    )
    nodes = (
        e.select(F.col("a_id").alias("id"))
        .unionByName(e.select(F.col("b_id").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    comp = nodes.select("id", F.col("id").alias("comp"))
    selected = None
    for _ in range(max_rounds):
        ca = comp.select(F.col("id").alias("a_id"), F.col("comp").alias("ca"))
        cb = comp.select(F.col("id").alias("b_id"), F.col("comp").alias("cb"))
        cross = (
            e.join(ca, "a_id").join(cb, "b_id").where(F.col("ca") != F.col("cb"))
        ).localCheckpoint(eager=False)
        # lazy checkpoint + count: one action materializes the round's
        # crossing set AND answers the termination probe
        if cross.count() == 0:
            break
        both = cross.select(
            F.col("ca").alias("comp"), key.alias("k"), "a_id", "b_id", "w"
        ).unionByName(
            cross.select(
                F.col("cb").alias("comp"), key.alias("k"), "a_id", "b_id", "w"
            )
        )
        pick = (
            both.groupBy("comp")
            .agg(F.min_by(F.struct("a_id", "b_id", "w"), F.col("k")).alias("e"))
            .select("e.a_id", "e.b_id", "e.w")
            .distinct()
        )
        selected = (
            pick if selected is None else selected.unionByName(pick).distinct()
        ).localCheckpoint(eager=True)
        cc = canonicalize.connected_components(
            selected.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        )
        singles = nodes.join(cc, "id", "left_anti").select(
            "id", F.col("id").alias("component")
        )
        comp = (
            cc.unionByName(singles)
            .select("id", F.col("component").alias("comp"))
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"spanning_forest: {max_rounds} rounds exhausted before convergence"
        )
    if selected is None:
        return e.limit(0)
    return selected


def graph_coloring(und: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Jones-Plassmann greedy graph coloring -> (id, color), a proper
    coloring (no edge joins two equal colors).  The production use in
    a KG engine is conflict-free scheduling: nodes of one color class
    share no edge, so per-color waves of entity-merge / upsert /
    label-update operations can run with zero write conflicts — the
    classic parallel-scheduling application (Jones & Plassmann 1993).

    Each round, an uncolored node whose hash priority (md5 of id — a
    strict total order, deterministic and oracle-portable) exceeds
    every UNCOLORED neighbor's priority takes the minimum color
    absent from its already-colored neighborhood (the mex, computed
    as a fold over the sorted used-color array — a per-row
    higher-order function, no explode).  Independent local maxima
    color concurrently; expected rounds are O(log n / log log n) for
    random priorities (Luby-style analysis), and the loop RAISES if
    ``max_rounds`` is exhausted before everyone is colored — loud,
    never wrong.

    Scale shape: per round one self-join restricted to the
    still-uncolored subgraph (shrinks geometrically), one hash agg
    for the neighborhood max, one collect_set agg over colored
    neighbors of this round's winners only, all at size-derived
    partition counts with localCheckpoint truncation — the same
    iterative regime as connected_components / scc.  No per-node
    sequential dependency anywhere, so the plan is identical on a
    1000-executor cluster.
    """
    sc_ = und.sparkSession.sparkContext
    e = (
        und.select(F.col("cid").cast("string"), F.col("nbr_id").cast("string"))
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts = min(sc_.defaultParallelism, max(8, e.count() // 100_000 + 1))
    e = e.coalesce(parts)
    unc = e.select(F.col("cid").alias("id")).distinct().localCheckpoint(eager=True)
    n_unc = unc.count()
    colored = None
    pr = F.md5(F.col("id"))
    # per-round driver actions: winners is a LAZY checkpoint shared
    # by its three consumers (one LogicalRDD — linear planning) and
    # materializes inside the uncolored set's emptiness count, so a
    # round costs ONE driver job; the colored union stays lazy
    # (shallow parents)
    for _ in range(max_rounds):
        if n_unc == 0:
            break
        u_ids = unc.select("id")
        unc_edges = (
            e.join(u_ids.withColumnRenamed("id", "cid"), "cid")
            .join(u_ids.withColumnRenamed("id", "nbr_id"), "nbr_id")
        )
        nbr_max = unc_edges.groupBy("cid").agg(
            F.max(F.md5(F.col("nbr_id"))).alias("mx")
        )
        winners = (
            unc.join(nbr_max, unc.id == nbr_max.cid, "left")
            .where(F.col("mx").isNull() | (pr > F.col("mx")))
            .select("id")
        ).localCheckpoint(eager=False)
        if colored is not None:
            used = (
                e.withColumnRenamed("cid", "id")
                .join(winners, "id")
                .join(
                    colored.select(
                        F.col("id").alias("nbr_id"), F.col("color").alias("nc")
                    ),
                    "nbr_id",
                )
                .groupBy("id")
                .agg(F.sort_array(F.collect_set("nc")).alias("used"))
            )
        else:
            used = winners.select("id", F.array().cast("array<int>").alias("used"))
        mex = F.element_at(
            F.filter(
                F.sequence(F.lit(0), F.size("used")),
                lambda x: ~F.array_contains(F.col("used"), x),
            ),
            1,
        )
        new = (
            winners.join(used, "id", "left")
            .select(
                "id",
                F.coalesce(
                    mex, F.lit(0)
                ).alias("color"),
            )
        )
        colored = (
            new if colored is None else colored.unionByName(new)
        ).localCheckpoint(eager=False)
        unc = unc.join(winners, "id", "left_anti").localCheckpoint(eager=False)
        n_unc = unc.count()
    else:
        raise RuntimeError(
            f"graph_coloring: {max_rounds} rounds exhausted before full coloring"
        )
    return colored if colored is not None else unc.select(
        "id", F.lit(0).alias("color")
    )


def densest_subgraph(
    und: DataFrame,
    eps: float = 1.0,
    max_rounds: int = 10,
    prepared: bool = False,
) -> DataFrame:
    """Approximate densest subgraph by parallel peeling (Bahmani,
    Kumar & Vassilvitskii 2012, "Densest subgraph in streaming and
    MapReduce"): repeatedly delete every node whose degree is at most
    ``2(1+eps)`` times the current density ``rho = |E|/|V|``, and
    return the iterate with the highest density seen.  If the peel
    runs to empty (it always does: the min-degree node is deleted
    each round, and in fact ``|V|`` shrinks by a factor ``>= 1+eps``
    per round, so ``log_{1+eps} n`` rounds suffice — 10 rounds cover
    ~10^3 nodes at eps=1 and ~30 rounds cover 10^9), the best iterate
    is a ``2(1+eps)``-approximation of the true maximum-density
    subgraph.  Dense nuclei are what a GraphRAG global-search pass
    summarizes first, and the densest community is the classic
    spam/boilerplate signature in a web-crawl entity graph.

    Scale shape: each round is ONE degree aggregation, a 1-ROW stats
    collect (the bounded-literal pattern shared with BM25/HITS), and
    a semi-join of the edge list against surviving nodes — no
    windows, no all-pairs anything.  The surviving edge set is
    localCheckpoint-ed per round so lineage stays flat, and every
    round's node set is a lazy projection of a checkpointed edge set,
    so keeping a handle to the best iterate costs nothing.

    Determinism: the threshold rule has no ties to break; the best
    round is the EARLIEST one achieving the max density (strict
    ``>``), mirrored by the oracle's ``ORDER BY rho DESC, round``.

    Returns (concept_id, density): the member nodes of the best
    iterate, all carrying its density ``|E|/|V|`` rounded to 6dp.
    """
    und = und.select("cid", "nbr_id")
    if not prepared:
        und = und.distinct().localCheckpoint(eager=True)
    cur = und
    best_nodes, best_rho, scale = None, -1.0, float(1.0 + eps)
    for r in range(max_rounds + 1):
        row = cur.agg(
            F.count(F.lit(1)).cast("long").alias("ne2"),
            F.countDistinct("cid").cast("long").alias("nv"),
        ).collect()[0]
        ne2, nv = row["ne2"], row["nv"]
        if nv == 0:
            break
        rho = float(ne2) / (2.0 * nv)
        if rho > best_rho:
            best_rho, best_nodes = rho, cur.select("cid").distinct()
        if r == max_rounds:
            break
        deg = cur.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("deg"))
        # threshold 2(1+eps)rho == (1+eps) * ne2 / nv, computed in the
        # exact literal/multiply/divide order the oracle replays
        keep = deg.where(
            F.col("deg") > F.lit(scale) * F.lit(float(ne2)) / F.lit(float(nv))
        ).select("cid")
        cur = (
            cur.join(keep, "cid")
            .join(keep.withColumnRenamed("cid", "nbr_id"), "nbr_id")
            .select("cid", "nbr_id")
            .localCheckpoint(eager=True)
        )
    if best_nodes is None:
        spark = und.sparkSession
        return spark.createDataFrame([], "concept_id string, density double")
    return (
        best_nodes.select(F.col("cid").alias("concept_id"))
        .withColumn("density", F.round(F.lit(best_rho), 6))
        .orderBy("concept_id")
    )


def related_concepts(
    und: DataFrame,
    top_k: int = 20,
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction / related-entity suggestion: for NON-adjacent
    concept pairs at distance 2, common-neighbor count and
    neighborhood Jaccard — (a, b, common, jaccard), ranked jaccard
    desc / common desc / (a, b).  This is the "you might also ask
    about" query a GraphRAG retriever runs to widen a seed entity set
    beyond explicit edges.

    Scale shape: candidate pairs come from the wedge self-join on the
    shared neighbor, so only distance-2 pairs are ever materialized
    (never all-pairs); adjacency is removed with a broadcast-friendly
    anti-join on the canonical edge; Jaccard needs only the two degree
    scalars joined back (common / (da + db - common)).  Unlike
    :func:`triangle_counts` the wedge middle cannot be degree-oriented
    (every common neighbor must vote), so a viral hub produces C(d,2)
    candidates — ``max_degree`` caps the middle (drop wedge centers
    with degree above it) for adversarial graphs; the cap is explicit
    and surfaced as a parameter rather than silent."""
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    if max_degree is not None:
        middle_deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("mdeg"))
        adj_mid = (
            adj.join(middle_deg.where(F.col("mdeg") <= max_degree), "cid")
            .select("cid", "nbr_id")
        )
    else:
        adj_mid = adj
    n1 = adj_mid.select("cid", F.col("nbr_id").alias("a"))
    n2 = adj_mid.select("cid", F.col("nbr_id").alias("b"))
    cand = (
        n1.join(n2, "cid")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    edges = adj.select(
        F.least("cid", "nbr_id").alias("a"), F.greatest("cid", "nbr_id").alias("b")
    ).distinct()
    nonadj = cand.join(edges, ["a", "b"], "left_anti")
    deg = adj.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        nonadj.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.desc("common"), "a", "b")
        .limit(top_k)
    )


def random_walks(
    und: DataFrame,
    walks_per_node: int = 1,
    walk_length: int = 4,
    seed: int = 42,
) -> DataFrame:
    """DeepWalk-style random-walk corpus over the concept graph — the
    training-data export for skip-gram graph embeddings (Perozzi et
    al. 2014): every node starts ``walks_per_node`` walks of
    ``walk_length`` steps; each step moves to a uniformly-chosen
    neighbor.  "Random" is a deterministic hash: step ``t`` of walk
    ``w`` picks neighbor index ``md5_32(seed|w|t) % degree(cur)``
    against the neighbor list sorted by id — bit-stable across runs,
    partitionings, and engines (the DuckDB oracle rebuilds the 32-bit
    value nibble-by-nibble from the same md5 hex).

    Output: (walk_id, step, node) with step 0..walk_length — explode
    to (center, context) pairs downstream for skip-gram training.

    Scale shape: the indexed-adjacency design moves ONE row per walk
    per step — choose an index from the walk's (cur, degree), then
    equi-join adjacency on (cid, idx) — so a step never fans out by
    node degree (a hub with 10^6 neighbors costs the same as a leaf;
    the argmin-over-neighbors formulation would shuffle the hub's
    whole edge list per visiting walk).  Adjacency and degree tables
    are built once and lineage-truncated; per-step cost is two
    hash-join shuffles of walk-count rows."""
    from pyspark.sql import Window

    sc = und.sparkSession.sparkContext
    adj = und.select("cid", "nbr_id").distinct()
    w = Window.partitionBy("cid").orderBy("nbr_id")
    adj_i = adj.withColumn("idx", F.row_number().over(w) - 1).localCheckpoint(
        eager=True
    )
    deg = (
        adj_i.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    parts = min(sc.defaultParallelism, max(8, n_nodes // 100_000 + 1))
    walks = deg.select(
        F.explode(
            F.array([F.lit(i) for i in range(walks_per_node)])
        ).alias("w"),
        F.col("cid").alias("cur"),
    ).select(
        F.concat_ws("#", "cur", "w").alias("walk_id"), "cur"
    )
    slices = [
        walks.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))
    ]
    # degree and indexed-adjacency lookups are loop-INVARIANT: under a
    # size gate on the EDGE count (the adjacency is the bigger side),
    # broadcast them so each step's joins skip shuffling the walk
    # frontier (guide §3.1; the invariant-lookup sibling of the
    # pagerank pre-join — at web scale the gate falls back)
    bcast = adj_i.count() <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    for t in range(1, walk_length + 1):
        h32 = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(str(seed)), "walk_id", F.lit(str(t)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        walks = (
            walks.join(_b(deg.withColumnRenamed("cid", "cur")), "cur")
            .select("walk_id", "cur", (h32 % F.col("deg")).alias("idx"))
            .join(
                _b(adj_i.withColumnRenamed("cid", "cur")),
                ["cur", "idx"],
            )
            .select("walk_id", F.col("nbr_id").alias("cur"))
        )
        if t % 2 == 0 or t == walk_length:
            walks = walks.coalesce(parts).localCheckpoint(eager=True)
        slices.append(
            walks.select(
                "walk_id", F.lit(t).alias("step"), F.col("cur").alias("node")
            )
        )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out.orderBy("walk_id", "step")


def node2vec_walks(
    und: DataFrame,
    p: float = 4.0,
    q: float = 0.25,
    walk_length: int = 3,
    seed: int = 42,
) -> DataFrame:
    """node2vec-style second-order biased walks (Grover & Leskovec
    2016): at each step the walk at ``cur`` having arrived from
    ``prev`` weights each neighbor ``x`` by ``1/p`` if ``x == prev``
    (return), ``1`` if ``x`` is adjacent to ``prev`` (triangle /
    BFS-ish), else ``1/q`` (outward / DFS-ish), then samples
    proportionally.  "Samples" is a deterministic hash: the walk's
    step draw is ``u = md5_32(seed|walk_id|t) / 2^32`` and the chosen
    neighbor is the first (by id) whose cumulative weight exceeds
    ``u * total`` — bit-stable across runs, partitionings, and
    engines.  The defaults ``p=4, q=0.25`` give binary-exact weights
    (0.25 / 1.0 / 4.0) so the cumulative-sum comparison is the same
    IEEE sequence in Spark and the DuckDB oracle.  Step 1 has no
    prev; seeding ``prev = cur`` makes every neighbor a triangle
    (weight 1) — exactly the uniform first step the paper prescribes.

    Output: (walk_id, step, node), one walk of ``walk_length`` steps
    per node — same shape as :func:`random_walks`, so
    :func:`skipgram_pairs` consumes either corpus.

    Scale shape: second-order bias genuinely needs the (prev, cur)
    pair, so each step fans the frontier out by deg(cur) — one
    equi-join against adjacency, one broadcast-shaped left join
    against the canonical edge set for the triangle flag, one
    walk-partitioned window (cumsum + total), one filter; per-step
    shuffle is sum-of-degrees-over-frontier rows of four narrow
    columns.  That is the standard distributed formulation — the
    alias-table alternative precomputes O(sum_of_deg(v)*deg(u) over
    edges) state, which a 100-TB graph cannot hold.  Hubs make a step
    wide but never skew a single key: the window partitions by
    walk_id (walk count per node is fixed), not by the hub's id."""
    sc = und.sparkSession.sparkContext
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    adj = adj.localCheckpoint(eager=True)
    eset = adj.select(
        F.least("cid", "nbr_id").alias("ea"), F.greatest("cid", "nbr_id").alias("eb")
    ).distinct()
    n_nodes = adj.select("cid").distinct().count()
    parts = min(sc.defaultParallelism, max(8, n_nodes // 100_000 + 1))
    frontier = adj.select("cid").distinct().select(
        F.concat_ws("#", "cid", F.lit("0")).alias("walk_id"),
        F.col("cid").alias("prev"),
        F.col("cid").alias("cur"),
    )
    slices = [
        frontier.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("node"))
    ]
    win = Window.partitionBy("walk_id").orderBy("nbr_id")
    # the adjacency and edge-set lookups are loop-invariant: broadcast
    # under a size gate on the edge count so each step pays only its
    # walk_id window shuffle (guide §3.1; falls back at web scale)
    bcast = adj.count() <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    for t in range(1, walk_length + 1):
        cand = frontier.join(_b(adj.withColumnRenamed("cid", "cur")), "cur").join(
            _b(eset),
            (F.least("nbr_id", "prev") == F.col("ea"))
            & (F.greatest("nbr_id", "prev") == F.col("eb")),
            "left",
        )
        w = (
            F.when(F.col("nbr_id") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("ea").isNotNull(), F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        u32 = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(str(seed)), "walk_id", F.lit(str(t)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        staged = cand.select(
            "walk_id",
            "cur",
            "nbr_id",
            F.sum(w)
            .over(win.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cumw"),
            F.sum(w)
            .over(Window.partitionBy("walk_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            ))
            .alias("tot"),
            (u32 / F.lit(4294967296.0)).alias("u"),
        )
        # the interval's LEFT boundary is the PREVIOUS row's cumsum
        # (lag), NOT cumw - w: under non-dyadic p/q the float
        # subtraction re-derives a slightly different boundary and
        # adjacent intervals gap (the walk silently dies) or overlap
        # (the walk forks); lag shares the exact same double on both
        # sides of every boundary, so the intervals partition [0, tot)
        # for ANY weights
        scored = staged.withColumn(
            "lo", F.lag("cumw", 1, 0.0).over(win)
        )
        frontier = scored.where(
            (F.col("cumw") > F.col("u") * F.col("tot"))
            & (F.col("lo") <= F.col("u") * F.col("tot"))
        ).select("walk_id", F.col("cur").alias("prev"), F.col("nbr_id").alias("cur"))
        if t % 2 == 0 or t == walk_length:
            # lazy: no probe in the walk loop — the caller's single
            # action materializes all steps (frontier is referenced
            # twice per step: slice projection + next step's join)
            frontier = frontier.coalesce(parts).localCheckpoint(eager=False)
        slices.append(
            frontier.select(
                "walk_id", F.lit(t).alias("step"), F.col("cur").alias("node")
            )
        )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out.orderBy("walk_id", "step")


def skipgram_pairs(
    walks: DataFrame, window: int = 2, top_k: int | None = None
) -> DataFrame:
    """Skip-gram (center, context) training pairs from a random-walk
    corpus — the word2vec-style co-occurrence aggregation DeepWalk
    feeds to its embedding trainer.  Every ordered pair of nodes
    within ``window`` steps on the same walk becomes one observation;
    output is the aggregated (center, context, n_pairs), the exact
    sufficient statistic for the skip-gram objective (counts, not raw
    pairs — 100 TB of walks reduce to a vocabulary-sized table).

    Scale shape: a self-equi-join on walk_id with a bounded step-band
    predicate (each side of a walk row meets at most ``2*window``
    partners), then one hash aggregate on (center, context)."""
    a = walks.select(
        "walk_id", F.col("step").alias("s_a"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("s_b"), F.col("node").alias("context")
    )
    pairs = a.join(b, "walk_id").where(
        (F.col("s_a") != F.col("s_b"))
        & (F.abs(F.col("s_a") - F.col("s_b")) <= window)
    )
    out = (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
    )
    return out.limit(top_k) if top_k else out


def contrastive_edge_pairs(
    und: DataFrame, negatives_per_pos: int = 2, seed: int = 42
) -> DataFrame:
    """Contrastive training pairs for graph-embedding objectives:
    every undirected edge is a positive (label 1); for each positive,
    ``negatives_per_pos`` deterministic hash-sampled nodes become
    negatives (label 0) after filtering accidental positives — the
    standard negative-sampling export (word2vec/DGI style), bit-stable
    across runs.

    Negative choice reuses the indexed-trick from
    :func:`random_walks`: a global (idx, id) node index, candidate
    ``j`` of pair (a,b) = node at ``md5_32(seed|a|b|j) % n``.
    Candidates equal to either endpoint or forming a real edge are
    dropped (so per-positive negative count can be slightly under the
    target — the standard filtered-sampling contract); surviving
    duplicates collapse.

    Scale shape: the node index is one global window over the
    vocabulary-sized node table (tiny next to the corpus); candidates
    equi-join it on idx, and the accidental-positive filter is a
    left-anti equi-join against the adjacency.  Nothing fans out by
    degree."""
    from pyspark.sql import Window

    pos = (
        und.where(F.col("cid") < F.col("nbr_id"))
        .select(F.col("cid").alias("a"), F.col("nbr_id").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        und.select(F.col("cid").alias("id"))
        .distinct()
        .withColumn(
            "idx", F.row_number().over(Window.orderBy("id")).cast("long") - 1
        )
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    cands = None
    for j in range(negatives_per_pos):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit(str(seed)), "a", "b", F.lit(str(j)))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        c = pos.select("a", "b", (h % F.lit(n)).alias("idx"))
        cands = c if cands is None else cands.unionByName(c)
    negs = (
        cands.join(nodes, "idx")
        .where((F.col("id") != F.col("a")) & (F.col("id") != F.col("b")))
        .select("a", F.col("id").alias("nbr_id"))
        .join(
            und.withColumnRenamed("cid", "a"),
            ["a", "nbr_id"],
            "left_anti",
        )
        .select("a", F.col("nbr_id").alias("b"))
        .distinct()
    )
    out = pos.select("a", "b", F.lit(1).alias("label")).unionByName(
        negs.select("a", "b", F.lit(0).alias("label"))
    )
    return out.orderBy("a", "b", "label")


def neighbor_sample(
    und: DataFrame,
    fanouts: tuple[int, ...] = (3, 2),
    seed: int = 42,
    roots: DataFrame | None = None,
) -> DataFrame:
    """GraphSAGE-style minibatch block sampling (Hamilton et al.
    2017): for every root node keep at most ``fanouts[0]`` neighbors,
    for each kept hop-1 node at most ``fanouts[1]`` of ITS neighbors,
    and so on — the bounded k-hop blocks a GNN trainer consumes.

    The sample is deterministic and root-independent: neighbors of
    ``v`` are ranked once by ``md5(seed|v|nbr)`` (nbr tie-break) and
    truncated to ``max(fanouts)``; every root reuses the same ranked
    list, so the expensive per-node ranking happens exactly once (one
    window shuffle over the adjacency) and is shared across the whole
    epoch — the CacheGNN/amortized-sampling layout.  A hub with 10^6
    neighbors contributes ``max(fanouts)`` rows after the truncation,
    so hop joins never see raw degree.

    Output: distinct (root, hop, src, dst) block edges, hop 1-based.
    ``roots`` (a 1-column ``root`` frame) defaults to every node."""
    from pyspark.sql import Window

    adj = und.select("cid", "nbr_id").distinct()
    ranked = (
        adj.withColumn(
            "h", F.md5(F.concat_ws("|", F.lit(str(seed)), "cid", "nbr_id"))
        )
        .withColumn(
            "idx",
            F.row_number().over(
                Window.partitionBy("cid").orderBy("h", "nbr_id")
            )
            - 1,
        )
        .where(F.col("idx") < max(fanouts))
        .select("cid", "nbr_id", "idx")
        .localCheckpoint(eager=True)
    )
    if roots is None:
        roots = adj.select(F.col("cid").alias("root")).distinct()
    frontier = roots.select("root", F.col("root").alias("cur"))
    slices = []
    for hop, fan in enumerate(fanouts, 1):
        step = (
            frontier.join(
                ranked.where(F.col("idx") < fan).withColumnRenamed("cid", "cur"),
                "cur",
            )
            .select(
                "root",
                F.lit(hop).alias("hop"),
                F.col("cur").alias("src"),
                F.col("nbr_id").alias("dst"),
            )
        )
        slices.append(step)
        if hop < len(fanouts):
            frontier = (
                step.select("root", F.col("dst").alias("cur"))
                .distinct()
                .localCheckpoint(eager=True)
            )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("root", "hop", "src", "dst")


def wl_labels(
    und: DataFrame,
    iters: int = 3,
    combine: str = "sum",
    prepared: bool = False,
) -> DataFrame:
    """Weisfeiler-Lehman node relabeling (the 1-WL color refinement
    underlying the WL graph kernel, Shervashidze et al. 2011, and the
    expressive bound of GIN-style GNNs): every node starts labeled
    with its degree; each round the label becomes a hash of
    (own label, multiset of neighbor labels).  After ``iters`` rounds
    two nodes share a label iff 1-WL cannot distinguish their
    ``iters``-hop neighborhoods — the standard structural-role feature
    for graph classification / node featurization.

    ``combine`` picks the multiset hash:

    * ``"sum"`` (default) — neighbor multiset folds to
      ``SUM(md5_32(label))``: order-independent WITHOUT materializing
      or sorting the neighbor list, so each round is one broadcast-free
      hash aggregation of (nbr, 8-byte hash) rows — no per-node list
      state, hub-degree-proof.  Sum-of-hashes is a standard multiset
      hash; collisions are possible in principle (two different
      multisets with equal 64-bit sums) but not constructible by
      chance — and the pytest cross-checks it against the exact
      variant on every fixture.
    * ``"sort"`` — the textbook exact form:
      ``md5(own || sorted neighbor labels)`` via
      ``array_sort(collect_list(...))``.  Exact multiset identity, but
      a degree-10^6 hub materializes a 10^6-element array in one agg
      buffer — keep for verification, prefer "sum" at scale.

    Returns (id, wl_label).  Deterministic (md5 everywhere), DuckDB
    oracle unrolls the rounds (kg_wl_labels).
    """
    und = und.select("cid", "nbr_id")
    if not prepared:
        und = und.distinct().localCheckpoint(eager=True)
    labels = und.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).cast("string").alias("lb")
    )
    for _ in range(iters):
        nb = und.join(
            labels.select(F.col("id").alias("nbr_id"), "lb"), "nbr_id"
        )
        if combine == "sum":
            ms = nb.groupBy(F.col("cid").alias("id")).agg(
                F.sum(
                    F.conv(F.substring(F.md5("lb"), 1, 8), 16, 10).cast("long")
                )
                .cast("string")
                .alias("ms")
            )
        else:
            ms = nb.groupBy(F.col("cid").alias("id")).agg(
                F.array_join(F.array_sort(F.collect_list("lb")), ",").alias("ms")
            )
        labels = (
            labels.join(ms, "id")
            .select(
                "id",
                F.substring(F.md5(F.concat_ws("|", "lb", "ms")), 1, 16).alias("lb"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("id", F.col("lb").alias("wl_label"))


def coreness(und: DataFrame, iters: int = 8, prepared: bool = False) -> DataFrame:
    """k-core decomposition by synchronous h-index iteration (Lü et
    al. 2016, "The H-index of a network node"): start every node at
    its degree, then repeatedly replace each node's value with the
    h-index of its neighbors' values (the largest ``h`` such that at
    least ``h`` neighbors hold value ≥ ``h``).  The sequence is
    monotonically non-increasing and converges to the node's coreness
    — the largest ``k`` for which it survives k-core peeling.  Core
    numbers locate the dense nucleus of the concept graph (the
    entities worth a context window) and are the standard degeneracy
    ordering for subgraph mining.

    Fixed ``iters`` keeps the result deterministic and lets the DuckDB
    oracle unroll rounds as CTEs; on small-world graphs convergence is
    a handful of rounds (the pytest oracle pins fixture convergence to
    exact peeling coreness).

    Scale shape: one round = an equi-join of the adjacency with the
    value table plus a per-node ``max(least(rank, value))`` window
    aggregate — no collect_list, so a hub's neighbor values stream
    through sort+window instead of materializing one giant array
    row.  Values are lineage-truncated every other round."""
    from pyspark.sql import Window

    sc = und.sparkSession.sparkContext
    und = und.select("cid", "nbr_id")
    if not prepared:
        # prepared=True: caller already dedup'd + checkpointed the
        # adjacency (node_features shares ONE materialization)
        und = und.distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    vals = und.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("val")
    )
    w = Window.partitionBy("cid").orderBy(F.desc("val"), "nbr_id")
    for i in range(iters):
        vals = (
            und.join(vals.withColumnRenamed("id", "nbr_id"), "nbr_id")
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .groupBy(F.col("cid").alias("id"))
            .agg(F.max(F.least("rk", "val")).alias("val"))
        )
        if (i + 1) % 2 == 0 or i == iters - 1:
            vals = vals.coalesce(parts).localCheckpoint(eager=True)
    return vals.select("id", F.col("val").alias("coreness")).orderBy(
        F.desc("coreness"), "id"
    )


def community_sizes(labels: DataFrame, top_k: int = 50) -> DataFrame:
    """Aggregate an LPA labeling to (community, n_members), largest
    first (ties: community id) — the community index a GraphRAG
    retriever scans before drilling into reports."""
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") >= 2)
        .orderBy(F.desc("n_members"), "community")
        .limit(top_k)
    )


def community_report(
    labels: DataFrame,
    mentions: DataFrame,
    top_communities: int = 10,
    top_concepts: int = 5,
) -> DataFrame:
    """Deterministic community reports: for the ``top_communities``
    largest communities, the ``top_concepts`` most-mentioned member
    concepts — (community, n_members, rank, concept_id, lemma,
    n_mentions).  The extractive stand-in for GraphRAG's LLM-written
    community summaries (the retrieval-time data shape is identical;
    swapping the ranked-lemma body for model prose is a scorer-style
    pluggable, kept deterministic here so the driver oracle stays
    hash-exact).

    Plan shape: mention counts aggregate BEFORE joining the (tiny)
    top-community list, and both the community index and the label
    table arrive at the join broadcast-sized; the only full shuffle
    is the mentions groupBy.  The per-community top-k is a window over
    at most top_communities * |community| rows, partitioned on the
    community key."""
    from pyspark.sql import Window

    top = community_sizes(labels, top_k=top_communities)
    counts = mentions.groupBy("concept_id", "lemma").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    member_counts = counts.join(
        labels.withColumnRenamed("id", "concept_id"), "concept_id"
    ).join(
        F.broadcast(top), F.col("label") == F.col("community")
    )
    w = Window.partitionBy("community").orderBy(
        F.desc("n_mentions"), "lemma", "concept_id"
    )
    return (
        member_counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_concepts)
        .select(
            "community", "n_members", "rank", "concept_id", "lemma", "n_mentions"
        )
        .orderBy(F.desc("n_members"), "community", "rank")
    )


def global_search(
    labels: DataFrame,
    mentions: DataFrame,
    pattern: str,
    top_k: int = 10,
) -> DataFrame:
    """GraphRAG GLOBAL search (Edge et al. 2024 §3.4): answer a query
    from the community level down, not the entity level up.  The
    extractive-deterministic version: communities are ranked by how
    strongly the query pattern lights them up — ``score`` = total
    mentions of member concepts whose lemma contains ``pattern``,
    ``n_matched`` = how many distinct member concepts matched, and
    ``top_lemma`` = the strongest matching concept (the headline the
    community would lead its summary with).  Output: (community,
    n_members, score, n_matched, top_lemma), score-desc, community
    tie-break.  Complements :func:`community_report` (browse) and
    ``hybrid_concept_search`` (entity-level/local search).

    Plan shape: the lemma filter prunes the mention-count aggregate
    BEFORE any join; the label join keys on concept_id; community
    sizes come from one narrow groupBy over the label table; the
    argmax lemma is ``min(struct(-n, lemma))`` inside the same hash
    aggregate as the score sum — no window, one shuffle per groupBy,
    nothing corpus-wide moves except matched concepts."""
    counts = (
        mentions.where(F.col("lemma").contains(pattern))
        .groupBy("concept_id", "lemma")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    sizes = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    scored = (
        counts.join(labels.withColumnRenamed("id", "concept_id"), "concept_id")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.sum("n_mentions").alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
            F.min(
                F.struct((-F.col("n_mentions")).alias("nm"), F.col("lemma"))
            ).alias("w"),
        )
    )
    return (
        scored.join(sizes, "community")
        .select(
            "community",
            "n_members",
            "score",
            "n_matched",
            F.col("w.lemma").alias("top_lemma"),
        )
        .orderBy(F.desc("score"), "community")
        .limit(top_k)
    )


def _wedge_candidates(
    und: DataFrame,
    min_common: int,
    max_degree: int | None,
):
    """Shared candidate stage of :func:`adamic_adar` and
    :func:`link_prediction`: the distance-2 wedge self-join on the
    shared middle (never all-pairs) with AA/RA partials aggregated
    map-side, the canonical adjacent-pair set for the anti-join, and
    the exact (uncapped) degree table.  Returns (cand, edges, deg)."""
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("deg"))
    mid = adj.join(deg.withColumnRenamed("deg", "mdeg"), "cid")
    if max_degree is not None:
        mid = mid.where(F.col("mdeg") <= max_degree)
    n1 = mid.select("cid", F.col("nbr_id").alias("a"), "mdeg")
    n2 = mid.select("cid", F.col("nbr_id").alias("b"))
    cand = (
        n1.join(n2, "cid")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("mdeg"))).alias("aa_raw"),
            F.sum(F.lit(1.0) / F.col("mdeg")).alias("ra_raw"),
        )
        .where(F.col("common") >= min_common)
    )
    edges = adj.select(
        F.least("cid", "nbr_id").alias("a"), F.greatest("cid", "nbr_id").alias("b")
    ).distinct()
    return cand, edges, deg


def adamic_adar(
    und: DataFrame,
    top_k: int = 20,
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Degree-weighted link prediction over non-adjacent distance-2
    pairs: Adamic-Adar ``aa = sum over common neighbors w of
    1/ln(deg(w))`` and resource-allocation ``ra = sum 1/deg(w)``
    (Adamic & Adar 2003; Zhou et al. 2009) — the classical refinements
    of :func:`related_concepts`' common-neighbor count that discount
    promiscuous hubs.  Returns (a, b, common, aa, ra) ranked aa desc /
    common desc / (a, b).

    Scale shape: identical to :func:`related_concepts` — candidates
    come only from the wedge self-join on the shared neighbor (never
    all-pairs); the middle's degree rides along on the wedge rows so
    the scores are plain map-side arithmetic + one aggregate; adjacency
    removal is an anti-join on the canonical edge.  ``max_degree``
    bounds the C(d,2) wedge blowup of viral hubs — explicit, not a
    silent cap (hubs above it contribute to no candidate, which for
    AA/RA is also the *least* informative evidence by construction).
    The candidate stage is shared with :func:`link_prediction`
    (:func:`_wedge_candidates`) — this is its two-score projection."""
    cand, edges, _ = _wedge_candidates(und, min_common, max_degree)
    return (
        cand.join(edges, ["a", "b"], "left_anti")
        .select(
            "a",
            "b",
            "common",
            F.round("aa_raw", 6).alias("aa"),
            F.round("ra_raw", 6).alias("ra"),
        )
        .orderBy(F.desc("aa"), F.desc("common"), "a", "b")
        .limit(top_k)
    )


def link_prediction(
    und: DataFrame,
    top_k: int = 20,
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Full link-prediction feature table over non-adjacent distance-2
    pairs: one row per candidate pair with every classical topological
    score side by side — common-neighbor count, Jaccard of the two
    neighborhoods, Adamic-Adar, resource allocation, and preferential
    attachment ``deg(a)*deg(b)`` (Liben-Nowell & Kleinberg 2007's
    feature set) — the input a downstream learned ranker or a GraphRAG
    "suggest missing edges" surface consumes, versus
    :func:`adamic_adar`'s two-score ranking.  Returns
    (a, b, common, jaccard, aa, ra, pa) ranked aa desc / common desc /
    (a, b).

    Scale shape: candidates come only from the wedge self-join on the
    shared neighbor (never all-pairs), with the middle's degree riding
    along so AA/RA are map-side arithmetic — identical to
    :func:`adamic_adar`.  Jaccard and PA need the *endpoint* degrees,
    which join in AFTER the ``min_common`` gate has already shrunk the
    candidate set, so the two extra joins touch top-k-bound rows, not
    wedge rows.  ``max_degree`` caps the C(d,2) wedge blowup of viral
    hubs (middles only); endpoint degrees stay exact and uncapped so
    jaccard/pa are true values, not artifacts of the cap.  Candidate
    stage shared with :func:`adamic_adar` (:func:`_wedge_candidates`)."""
    cand, edges, deg = _wedge_candidates(und, min_common, max_degree)
    dega = deg.select(F.col("cid").alias("a"), F.col("deg").alias("deg_a"))
    degb = deg.select(F.col("cid").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(edges, ["a", "b"], "left_anti")
        .join(dega, "a")
        .join(degb, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common") / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round("aa_raw", 6).alias("aa"),
            F.round("ra_raw", 6).alias("ra"),
            (F.col("deg_a") * F.col("deg_b")).cast("long").alias("pa"),
        )
        .orderBy(F.desc("aa"), F.desc("common"), "a", "b")
        .limit(top_k)
    )


def shortest_paths(
    wund: DataFrame,
    source_ids: list[str],
    iters: int = 6,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Hop-bounded weighted single/multi-source shortest paths over an
    undirected weighted adjacency ``wund = (cid, nbr_id, w)``:
    ``iters`` synchronous Bellman-Ford relaxation rounds, so the
    result is exact for every shortest path of at most ``iters`` edges
    — the hop-bounded formulation a GraphRAG retriever actually wants
    (context expansion is hop-budgeted; unbounded Dijkstra is
    inherently sequential and does not distribute).  Returns
    (id, dist) for reached nodes, dist rounded to 6 dp.

    Scale shape: each round is one equi-join of the current distance
    relation against the edge list plus a min-aggregate — the frontier
    never materializes more than (reached nodes + relaxed edges) rows;
    lineage is truncated every ``checkpoint_every`` rounds exactly
    like :func:`pagerank_und` (same measured rationale).  min() is an
    exact comparison on IEEE doubles, so the result is bit-stable
    across partitionings and engines."""
    sc = wund.sparkSession.sparkContext
    wund = (
        wund.select("cid", "nbr_id", F.col("w").cast("double").alias("w"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = wund.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    wund = wund.coalesce(parts)
    spark = wund.sparkSession
    dist = spark.createDataFrame(
        [(s, 0.0) for s in source_ids], "id string, dist double"
    ).dropDuplicates(["id"])
    for i in range(iters):
        relaxed = (
            wund.join(dist.withColumnRenamed("id", "cid"), "cid")
            .select(F.col("nbr_id").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            # dist is referenced twice per round (relaxation join +
            # union): per-round LAZY truncation keeps planning linear
            # (the shortest_path_between pathology) without the one
            # driver-synchronized job per eager checkpoint
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
    return dist.select("id", F.round("dist", 6).alias("dist")).orderBy("dist", "id")


def taxonomy_closure(isa: DataFrame, max_depth: int = 4) -> DataFrame:
    """Depth-bounded transitive closure of the ``is_a`` taxonomy:
    (desc_id, anc_id, depth) for every ancestor reachable in at most
    ``max_depth`` hops, depth = the SHORTEST such chain — the subsumption
    relation a retriever uses to expand a query concept to its broader
    terms.  ``isa`` is the directed edge view (child_id, parent_id).

    Semi-naive evaluation: round d extends only the depth-d frontier
    against the (checkpointed-once) edge list, then one min-aggregate
    dedups converging paths — the same one-join-one-agg-per-round shape
    as :func:`shortest_paths`, so each round's shuffle is bounded by
    (reached pairs + newly relaxed pairs), never all-pairs.  With
    edges ascending by concept id (pair canonicalization) the input is
    a DAG and the closure is exact once ``max_depth`` reaches the
    longest chain."""
    isa = (
        isa.select(
            F.col("child_id").cast("string").alias("desc_id"),
            F.col("parent_id").cast("string").alias("anc_id"),
        )
        .where(F.col("desc_id") != F.col("anc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    clo = isa.select("desc_id", "anc_id", F.lit(1).cast("int").alias("depth"))
    for d in range(1, max_depth):
        step = (
            clo.where(F.col("depth") == d)
            .join(
                isa.select(
                    F.col("desc_id").alias("anc_id"),
                    F.col("anc_id").alias("next_anc"),
                ),
                "anc_id",
            )
            .select(
                "desc_id",
                F.col("next_anc").alias("anc_id"),
                F.lit(d + 1).cast("int").alias("depth"),
            )
            .where(F.col("desc_id") != F.col("anc_id"))
        )
        clo = (
            clo.unionByName(step)
            .groupBy("desc_id", "anc_id")
            .agg(F.min("depth").alias("depth"))
        )
        # clo is referenced twice per round (frontier filter + union),
        # so an untruncated logical tree doubles per round (2^max_depth
        # plan nodes); a lazy checkpoint every other round keeps the
        # plan linear in max_depth
        if d % 2 == 0 or d == max_depth - 1:
            clo = clo.localCheckpoint(eager=False)
    return clo.orderBy("desc_id", "anc_id")


def taxonomy_layers(isa: DataFrame, max_depth: int = 4) -> DataFrame:
    """Topological layer assignment over the ``is_a`` DAG: roots (no
    parent edge) sit at layer 0, every other concept at
    max(parent layer) + 1 — the longest ancestor chain, i.e. the
    node's generality LEVEL.  The closure (:func:`taxonomy_closure`)
    answers "which ancestors"; this answers "how deep", which is what
    hierarchy visualizers, level-synchronous rollup schedulers, and
    the GraphRAG community-hierarchy drill-down actually key on.
    Pair canonicalization makes the edge view acyclic (desc < anc by
    id), so the recurrence is a fixpoint; ``max_depth`` rounds compute
    it exactly when max_depth >= the longest chain (4 covers this
    taxonomy — same bound the closure ships), else the depth-capped
    value, still deterministic.

    -> (id, layer, n_parents, is_root), ordered by id.

    Scale shape: layer-relaxation is one hash join (frontier x edges,
    both concept-cardinality) + one max-aggregate per round — the
    Bellman-Ford shape of shortest_paths with MAX instead of MIN, so
    each round's shuffle is bounded by |reachable pairs this round|,
    never all-pairs.  The edge view localCheckpoints once; corpus
    text never enters the plan."""
    isa = (
        isa.select(
            F.col("child_id").cast("string").alias("child_id"),
            F.col("parent_id").cast("string").alias("parent_id"),
        )
        .where(F.col("child_id") != F.col("parent_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    layers = (
        isa.select(F.col("child_id").alias("id"))
        .unionByName(isa.select(F.col("parent_id").alias("id")))
        .distinct()
        .select("id", F.lit(0).cast("int").alias("layer"))
    )
    for _d in range(max_depth):
        relaxed = layers.join(
            isa.select(
                F.col("parent_id").alias("id"), F.col("child_id").alias("_child")
            ),
            "id",
        ).select(
            F.col("_child").alias("id"), (F.col("layer") + 1).cast("int").alias("layer")
        )
        layers = (
            layers.unionByName(relaxed)
            .groupBy("id")
            .agg(F.max("layer").alias("layer"))
        )
        # lineage truncation: see the taxonomy_closure note
        if _d % 2 == 1 or _d == max_depth - 1:
            layers = layers.localCheckpoint(eager=False)
    parents = isa.groupBy(F.col("child_id").alias("id")).agg(
        F.count(F.lit(1)).alias("n_parents")
    )
    return (
        layers.join(parents, "id", "left")
        .select(
            "id",
            "layer",
            F.coalesce("n_parents", F.lit(0)).cast("long").alias("n_parents"),
            (F.coalesce("n_parents", F.lit(0)) == 0).alias("is_root"),
        )
        .orderBy("id")
    )


def taxonomy_rollup(
    closure: DataFrame, mention_counts: DataFrame, top_k: int = 100
) -> DataFrame:
    """Roll mention mass up the taxonomy: for every ancestor concept,
    how many distinct descendants it subsumes (within the closure's
    depth bound) and the total mentions of itself plus those
    descendants — the generality/coverage score that ranks which
    broader concepts dominate a corpus.  ``mention_counts`` is
    (concept_id, n_mentions).  Returns (anc_id, n_desc, self_mentions,
    total_mentions) ranked total desc / anc_id.

    Scale shape: closure joins mention_counts on the descendant key
    (concept-cardinality relation, not corpus-cardinality), one hash
    aggregate per ancestor, then a broadcast-sized top-k — text and
    chunks never enter the plan."""
    mc = mention_counts.select(
        F.col("concept_id").cast("string"), F.col("n_mentions").cast("long")
    )
    desc = (
        closure.join(mc, closure["desc_id"] == mc["concept_id"], "left")
        .groupBy("anc_id")
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            F.sum(F.coalesce("n_mentions", F.lit(0))).alias("desc_mentions"),
        )
    )
    return (
        desc.join(mc.withColumnRenamed("concept_id", "anc_id"), "anc_id", "left")
        .select(
            "anc_id",
            "n_desc",
            F.coalesce("n_mentions", F.lit(0)).alias("self_mentions"),
            (
                F.coalesce("n_mentions", F.lit(0)) + F.col("desc_mentions")
            ).alias("total_mentions"),
        )
        .orderBy(F.desc("total_mentions"), "anc_id")
        .limit(top_k)
    )


def hits(
    edges: DataFrame,
    iters: int = 8,
    top_k: int = 20,
    checkpoint_every: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    view ``(src_id, dst_id)`` — the natural centrality for the triple
    graph, where PageRank's undirected view can't separate "concept
    many facts point AT" (authority: the object of is_a/part_of
    chains) from "concept that points at many" (hub: the subject that
    anchors them).  Per round: auth(v) = Σ hub(u) over in-edges, L2-
    normalize; hub(u) = Σ auth(v) over out-edges, L2-normalize.
    Returns (id, auth, hub) rounded to 6 dp, auth desc / id, top-k.

    Scale shape: identical to :func:`pagerank_und` — the edge list is
    materialized once (localCheckpoint) and each half-round is one
    equi-join + one hash aggregate; lineage truncated every
    ``checkpoint_every`` rounds at a size-derived partition count.
    HITS is LINEAR, so per-round L2 normalization only rescales — the
    direction after ``iters`` rounds is identical whether you
    normalize every round or once at the end.  Normalizing at the end
    removes a 1-row aggregate + crossJoin + zero-fill join per
    HALF-round (measured 16.7 -> well under half on the sf0.1 bench
    graph: each of those trees was also re-executed by its second
    consumer).  Numerically: raw scores stay EXACT integers in double
    until they pass 2^53 (h0 = 1, each half-round is integer
    sum-of-integers), and overflow would need max-degree^(2*iters) >
    1e308 — impossible below ~1e19 nodes, so no mid-loop rescale is
    needed at any real scale."""
    sc = edges.sparkSession.sparkContext
    edges = (
        edges.select(
            F.col("src_id").cast("string"), F.col("dst_id").cast("string")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    edges = edges.coalesce(parts)
    nodes = (
        edges.select(F.col("src_id").alias("id"))
        .unionByName(edges.select(F.col("dst_id").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
        .coalesce(parts)
    )

    # note: a per-half-round broadcast of the score vector was tried
    # (guide §3.1) and measured NET-NEGATIVE here — unlike the
    # pagerank family there is no loop-invariant join to remove, so
    # the 2·iters BroadcastExchanges only added driver round-trips
    # (kg_hits 2.80 -> 3.08 s); plain shuffle joins restored
    hub = nodes.withColumn("h", F.lit(1.0))
    auth = None
    for i in range(iters):
        auth = (
            edges.join(hub.withColumnRenamed("id", "src_id"), "src_id")
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        hub = (
            edges.join(auth.withColumnRenamed("id", "dst_id"), "dst_id")
            .groupBy(F.col("src_id").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            auth = auth.coalesce(parts).localCheckpoint(eager=True)
            hub = hub.coalesce(parts).localCheckpoint(eager=True)

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # end-of-iteration L2 norm: one bounded 1-row collect folded
        # back as a literal (the BM25/textsearch scalar pattern) — a
        # crossJoin of the 1-row agg plans as a nested-loop join and
        # re-executes the filled subtree for the second consumer
        filled = nodes.join(raw, "id", "left").select(
            "id", F.coalesce(F.col(col), F.lit(0.0)).alias("raw")
        )
        nrm = filled.agg(
            F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm")
        ).collect()[0]["nrm"]
        return filled.select("id", (F.col("raw") / F.lit(nrm)).alias(col))

    auth = _normalize(auth, "a")
    hub = _normalize(hub, "h")
    return (
        auth.join(hub, "id")
        .select("id", F.round("a", 6).alias("auth"), F.round("h", 6).alias("hub"))
        .orderBy(F.desc("auth"), "id")
        .limit(top_k)
    )


def eigenvector_centrality(
    und: DataFrame,
    iters: int = 8,
    top_k: int = 20,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Eigenvector centrality (Bonacich 1987) over an undirected
    ``(cid, nbr_id)`` view by power iteration: x0 = 1, each round
    x(v) = Σ x(u) over v's neighbors — the influence measure where a
    node is central in proportion to how central its neighbors are,
    WITHOUT PageRank's teleport smoothing or degree division.  On the
    co-occurrence concept graph it surfaces the dense-core concepts
    (the hub cluster PageRank's 1/deg split deliberately dampens),
    the complement reading to :func:`pagerank_und` / :func:`katz
    <katz_centrality>` in the centrality panel.  Returns
    ``(id, score)`` L2-normalized, rounded to 6 dp, score desc / id,
    top-k.

    Scale shape: identical to :func:`hits` — adjacency materialized
    once (localCheckpoint) at a size-derived partition count, each
    round ONE equi-join + ONE hash aggregate, lineage truncated every
    ``checkpoint_every`` rounds.  Power iteration is LINEAR, so the
    per-round L2 normalization the textbook writes only rescales —
    normalizing ONCE at the end yields the identical direction and
    removes a 1-row aggregate per round (the measured HITS finding).
    Numerically: scores stay exact integers in double (x0 = 1, each
    round integer sum-of-integers) until they pass 2^53, which needs
    max-degree^iters beyond ~9e15 — at that point the end-norm ratio
    is still stable to far more than the 6 rounded dp.  Every node of
    ``und`` has ≥1 neighbor by construction (edge-derived view), so
    no zero-fill join is needed mid-loop.

    Semantics caveat (documented, same as the LPA oscillation note):
    on a BIPARTITE component the adjacency spectrum is symmetric
    (±λ1), so fixed-iteration power iteration reflects the round-
    count parity rather than converging — the output is defined as
    "the normalized iterate after ``iters`` rounds", deterministic
    and oracle-matched.  Real co-occurrence graphs are triangle-rich
    (non-bipartite), where the iteration converges geometrically."""
    sc = und.sparkSession.sparkContext
    und = und.select("cid", "nbr_id").distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    x = und.select(F.col("cid").alias("id")).distinct().withColumn(
        "x", F.lit(1.0)
    )
    # note: broadcasting the score vector per round was tried (guide
    # §3.1) and measured net-negative here — same finding as hits: no
    # loop-invariant join to remove, so the per-round
    # BroadcastExchange only added latency (1.42 -> 1.91 s)
    for i in range(iters):
        x = (
            und.join(x.withColumnRenamed("id", "nbr_id"), "nbr_id")
            .groupBy(F.col("cid").alias("id"))
            .agg(F.sum("x").alias("x"))
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            x = x.coalesce(parts).localCheckpoint(eager=True)
    # end-of-iteration L2 norm: one bounded 1-row collect folded back
    # as a literal (the HITS/BM25 scalar pattern — a crossJoin of the
    # 1-row agg would plan as a nested-loop join)
    nrm = x.agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("n")).collect()[0]["n"]
    return (
        x.select("id", F.round(F.col("x") / F.lit(nrm), 6).alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(top_k)
    )


def fastrp_embeddings(
    und: DataFrame,
    dims: int = 8,
    weights: tuple = (0.3, 0.5, 1.0),
    seed: str = "fastrp",
) -> DataFrame:
    """FastRP-style node embeddings (Chen et al. 2019: very sparse
    random projection + iterated neighbor averaging) over an
    undirected (cid, nbr_id) view, fully deterministic: the random
    init is a hash Rademacher vector (±1 from md5 parity of
    (seed, node, dim)), each level l computes the neighbor MEAN of the
    previous level then L2-normalizes per node, and the embedding is
    the weights-weighted sum of the normalized levels — the cheap
    structural-embedding export that feeds downstream similarity /
    clustering without a GNN.  Returns (id, j, val) exploded rows,
    val rounded to 6 dp, ordered (id, j).

    Scale shape: everything lives in the exploded (id, dim, value)
    relation — per level one equi-join against the adjacency + one
    hash aggregate on (node, dim), then a per-node norm aggregate; no
    array UDFs, no driver round-trips, and dims multiplies row count,
    not shuffle count.  Hash init means no RNG state to distribute —
    any executor recomputes any entry standalone (the same property
    the random-walk/negative-sampling exports rely on)."""
    adj = (
        und.select("cid", "nbr_id")
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("deg"))
    nodes = adj.select(F.col("cid").alias("id")).distinct()
    dimcol = F.explode(F.sequence(F.lit(0), F.lit(dims - 1))).alias("j")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("id"), F.col("j"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    x = nodes.select("id", dimcol).select(
        "id", "j", F.when(h % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("x")
    )
    levels = []
    for w in weights:
        s = (
            adj.join(x.withColumnRenamed("id", "nbr_id"), "nbr_id")
            .groupBy(F.col("cid").alias("id"), "j")
            .agg(F.sum("x").alias("sx"))
            .join(deg.withColumnRenamed("cid", "id"), "id")
            .select("id", "j", (F.col("sx") / F.col("deg")).alias("x"))
        )
        nrm = s.groupBy("id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nrm"))
        x = (
            s.join(nrm, "id")
            .select(
                "id",
                "j",
                F.when(F.col("nrm") > 0, F.col("x") / F.col("nrm"))
                .otherwise(F.lit(0.0))
                .alias("x"),
            )
            .localCheckpoint(eager=True)
        )
        levels.append(
            x.select("id", "j", (F.lit(float(w)) * F.col("x")).alias(f"wx{len(levels)}"))
        )
    # fixed left-to-right combine (a join, not a union+sum): double
    # addition is order-sensitive in the last ulp, and a groupBy sum
    # would combine in partition order — this keeps the value
    # bit-reproducible across runs and engines
    out = levels[0]
    for lv in levels[1:]:
        out = out.join(lv, ["id", "j"])
    val = F.col("wx0")
    for i in range(1, len(levels)):
        val = val + F.col(f"wx{i}")
    return out.select("id", "j", F.round(val, 6).alias("val")).orderBy("id", "j")


def embedding_neighbors(
    emb: DataFrame,
    seed_ids: list[str],
    top_k: int = 5,
) -> DataFrame:
    """Cosine top-k similar nodes per seed over an exploded embedding
    relation ``(id, j, val)`` — the "structurally similar entities"
    surface a GraphRAG deployment composes from
    :func:`fastrp_embeddings` (or any embedding export in the same
    shape).  Returns (sid, id, cos) with cos rounded to 6 dp, ranked
    per seed by cos desc / id.  Feed the ROUNDED embedding output in
    — 6-dp-rounded values are bit-identical across engines, so every
    downstream product is too.

    Scale shape: the seed slice is |seeds|*dims rows and broadcasts
    into an equi-join on the dimension index — per-seed brute force,
    which IS the scale path when seeds are a bounded query-time set
    (the corpus-vs-corpus case needs an LSH/IVF index instead).  Norms are one hash aggregate over the
    embedding relation; nothing ever materializes |seeds| x |nodes| x
    dims — the dot aggregate reduces as it scans."""
    se = (
        emb.where(F.col("id").isin(list(seed_ids)))
        .select(F.col("id").alias("sid"), "j", F.col("val").alias("sval"))
    )
    dots = (
        emb.join(F.broadcast(se), "j")
        .where(F.col("id") != F.col("sid"))
        .groupBy("sid", "id")
        .agg(F.sum(F.col("sval") * F.col("val")).alias("dot"))
    )
    nrm = emb.groupBy("id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("n")
    )
    cos = F.round(
        F.col("dot") / (F.col("sn") * F.col("n")), 6
    )
    ranked = (
        dots.join(
            F.broadcast(
                nrm.select(F.col("id").alias("sid"), F.col("n").alias("sn"))
            ),
            "sid",
        )
        .join(nrm, "id")
        .select("sid", "id", cos.alias("cos"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("sid").orderBy(F.desc("cos"), "id")
            ),
        )
    )
    return (
        ranked.where(F.col("rk") <= top_k)
        .select("sid", "id", "cos")
        .orderBy("sid", F.desc("cos"), "id")
    )


def betweenness_sample_size(n_nodes: int, eps: float = 0.05, delta: float = 0.1) -> int:
    """Source-sample size for the (eps, delta) guarantee of
    :func:`betweenness_sampled`: the smallest s with
    ``s >= ln(2 n / delta) / (2 eps^2)`` (Hoeffding + union bound over
    the n nodes; Brandes-Pich 2007), capped at n (sampling every
    source is exhaustive Brandes — the cap bites for small graphs,
    where the additive bound is vacuous anyway).  At 100-TB graph
    sizes the formula is what makes sampled betweenness tractable:
    it grows with ln(n), not n — e.g. n=10^9, eps=0.05, delta=0.1
    needs only ~4,800 sources."""
    import math

    if n_nodes <= 0:
        return 0
    s = math.ceil(math.log(2.0 * n_nodes / delta) / (2.0 * eps * eps))
    return min(n_nodes, max(1, s))


def sample_betweenness_sources(
    und: DataFrame, n_sources: int, seed: int | None = None
) -> list[str]:
    """Deterministic source draw for :func:`betweenness_sampled`:
    rank node ids by md5(seed || id) and take the first ``n_sources``
    — rerun-stable and partitioning-independent.  One column-pruned
    distinct + a k-capped TakeOrdered on the hash; only (id, hash)
    ever shuffles.

    Honesty note on the (eps, delta) bound: the Hoeffding guarantee is
    a probability over a UNIFORM RANDOM draw; a fixed hash draw is one
    pseudo-random realization, so no delta-probability statement holds
    for it formally.  It is a sound stand-in exactly when ids are
    structure-independent (here concept ids are sha256 of lemmas, so a
    hash-rank cannot correlate with degree or position), and ``seed``
    varies the realization — average several seeds when an empirical
    error bar is wanted.  If ids ARE structure-correlated (e.g.
    ingestion-ordered integers where low ids are hubs), md5 still
    decorrelates them, but supply externally drawn random sources to
    claim the formal bound."""
    h = (
        F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("id")))
        if seed is not None
        else F.md5(F.col("id"))
    )
    rows = (
        und.select(F.col("cid").alias("id"))
        .distinct()
        .orderBy(h, F.col("id"))
        .limit(n_sources)
        .collect()
    )
    return [r["id"] for r in rows]


def betweenness_sampled(
    und: DataFrame,
    sources: list[str],
    max_hops: int = 4,
    top_k: int = 20,
) -> DataFrame:
    """Sampled-source hop-bounded betweenness centrality (Brandes 2001,
    restricted to shortest paths of <= ``max_hops`` edges from a fixed
    source sample — the standard approximation at corpus scale, where
    exact betweenness is O(V*E) and unnecessary): forward BFS
    accumulates per-(source, node) shortest-path counts sigma, the
    backward pass accumulates the path-fraction dependencies
    delta(u) = sum over DAG successors w of (sigma_u / sigma_w) *
    (1 + delta(w)), and bc(v) = sum over sources of delta_s(v).
    Returns (id, bc) rounded to 6 dp, bc desc / id, top-k.

    Scale shape: ALL sources advance simultaneously — every relation
    carries the source as a key column, so the whole sample costs one
    join + one aggregate per BFS level each way (not |S| sequential
    traversals); the predecessor DAG is one 3-way equi-join derived
    from the visited relation; every per-level relation is bounded by
    (sources x reached nodes).  Levels are unrolled to exactly
    ``max_hops`` so the computation shape (and its SQL mirror) is
    static.

    Approximation guarantee (Brandes-Pich 2007 / Riondato-
    Kornaropoulos 2014): with ``s`` sources drawn uniformly, the
    scaled estimator ``(n/s) * sum_{src in S} delta_src(v)`` deviates
    from the exact (hop-truncated) betweenness by more than
    ``eps * n * (n-1)`` with probability at most ``delta`` once
    ``s >= ln(2n/delta) / (2 eps^2)`` — Hoeffding on the per-source
    dependency (bounded by n-1) plus a union bound over nodes.
    :func:`betweenness_sample_size` computes that s (capped at n,
    where the run is exhaustive and the estimate exact);
    :func:`sample_betweenness_sources` draws the source set
    deterministically.  The ``max_hops`` truncation is a separate,
    deliberate bias (k-betweenness: brokerage within the radius that
    matters for retrieval), not a sampling artifact — the bound is on
    the sampling error at fixed ``max_hops``.  Pinned by
    TestBetweennessErrorBound: on a 200-node graph the capped bound
    reproduces exact k-betweenness bit-for-bit and an s=50 subsample
    stays within eps."""
    spark = und.sparkSession
    adj = (
        und.select("cid", "nbr_id")
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = spark.createDataFrame(
        [(s, s, 1.0) for s in sorted(set(sources))], "s string, v string, sig double"
    )
    levels = [frontier.withColumn("d", F.lit(0))]
    visited = levels[0]
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["v"] == adj["cid"])
            .groupBy("s", F.col("nbr_id").alias("nv"))
            .agg(F.sum("sig").alias("sig"))
            .withColumnRenamed("nv", "v")
        )
        frontier = (
            nxt.join(visited.select("s", "v"), ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        levels.append(frontier.withColumn("d", F.lit(k)))
        visited = visited.unionByName(levels[-1]).localCheckpoint(eager=True)
    vu = visited.select(
        F.col("s"), F.col("v").alias("pu"), F.col("d").alias("du"), F.col("sig").alias("su")
    )
    vw = visited.select(
        F.col("s").alias("s2"), F.col("v").alias("pw"), F.col("d").alias("dw"),
        F.col("sig").alias("sw"),
    )
    preds = (
        adj.join(vu, adj["cid"] == vu["pu"])
        .join(vw, (vw["s2"] == vu["s"]) & (adj["nbr_id"] == vw["pw"]))
        .where(F.col("dw") == F.col("du") + 1)
        .select("s", "pu", "pw", "su", "sw", "dw")
        .localCheckpoint(eager=True)
    )
    deltas = {max_hops: levels[max_hops].select("s", "v", F.lit(0.0).alias("delta"))}
    for l in range(max_hops - 1, 0, -1):
        nxt_d = deltas[l + 1].select(
            F.col("s").alias("s3"), F.col("v").alias("pw2"), F.col("delta").alias("dnext")
        )
        contrib = (
            levels[l]
            .join(
                preds.where(F.col("dw") == l + 1).withColumnRenamed("pu", "v"),
                ["s", "v"],
                "left",
            )
            .join(
                nxt_d,
                (F.col("s3") == F.col("s")) & (F.col("pw2") == F.col("pw")),
                "left",
            )
        )
        deltas[l] = contrib.groupBy("s", "v").agg(
            F.coalesce(
                F.sum((F.col("su") / F.col("sw")) * (F.lit(1.0) + F.col("dnext"))),
                F.lit(0.0),
            ).alias("delta")
        )
    out = deltas[max_hops].select("v", "delta")
    for l in range(1, max_hops):
        out = out.unionByName(deltas[l].select("v", "delta"))
    return (
        out.groupBy(F.col("v").alias("id"))
        .agg(F.round(F.sum("delta"), 6).alias("bc"))
        .orderBy(F.desc("bc"), "id")
        .limit(top_k)
    )


def harmonic_sampled(
    und: DataFrame,
    sources: list[str],
    max_hops: int = 4,
    top_k: int = 20,
    n_nodes: int | None = None,
) -> DataFrame:
    """Sampled-source hop-bounded harmonic centrality:
    H(v) = sum over sampled sources s != v of 1 / d(s, v), distances
    from a multi-source BFS truncated at ``max_hops`` (terms beyond
    the radius contribute < 1/max_hops each and are dropped — the
    same deliberate k-truncation as :func:`betweenness_sampled`).
    Harmonic is the closeness variant that stays well-defined on
    disconnected graphs (Boldi-Vigna 2014): unreachable pairs add 0
    instead of breaking the mean.  Pass ``n_nodes`` to scale the
    estimate by n/|S| (the unbiased-estimator form); unscaled sums are
    returned otherwise, which preserves the ranking.  Returns (id,
    harmonic) rounded to 6 dp, harmonic desc / id, top-k.

    Scale shape: the forward half of the Brandes machinery only — all
    sources advance together as a key column (one join + one distinct
    aggregate per level, never |S| traversals), per-level relations
    bounded by (sources x reached nodes), localCheckpoint truncating
    the per-level lineage; the scoring pass is a single hash
    aggregate over the visited relation.  Source draw:
    :func:`sample_betweenness_sources` (same md5-rank determinism and
    same (eps, delta) Hoeffding sizing note — per-source harmonic
    contribution is bounded by 1, so :func:`betweenness_sample_size`
    applies verbatim)."""
    visited = _multi_source_bfs(und, sources, max_hops)
    scale = float(n_nodes) / len(set(sources)) if n_nodes else 1.0
    return (
        visited.where(F.col("d") > 0)
        .groupBy(F.col("v").alias("id"))
        .agg(F.round(F.sum(F.lit(scale) / F.col("d")), 6).alias("harmonic"))
        .orderBy(F.desc("harmonic"), "id")
        .limit(top_k)
    )


def _multi_source_bfs(und: DataFrame, sources: list[str], max_hops: int) -> DataFrame:
    """Forward half of the Brandes machinery, distances only: all
    sources advance together as a key column — one join + one
    distinct + one anti-join per level, never |S| traversals.
    Returns visited (s, v, d) with d = exact hop distance <= max_hops."""
    spark = und.sparkSession
    adj = (
        und.select("cid", "nbr_id")
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = spark.createDataFrame(
        [(s, s) for s in sorted(set(sources))], "s string, v string"
    )
    visited = frontier.withColumn("d", F.lit(0))
    # fixed-hop loop with no fixpoint probe: LAZY truncation per
    # level (frontier is referenced twice — visited union + next
    # level's join — so the checkpoint keeps planning linear) and the
    # caller's single action materializes the whole traversal
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["v"] == adj["cid"])
            .select("s", F.col("nbr_id").alias("v"))
            .distinct()
        )
        frontier = nxt.join(
            visited.select("s", "v"), ["s", "v"], "left_anti"
        ).localCheckpoint(eager=False)
        visited = visited.unionByName(
            frontier.withColumn("d", F.lit(k))
        ).localCheckpoint(eager=False)
    return visited


def eccentricity_sampled(
    und: DataFrame,
    sources: list[str],
    max_hops: int = 6,
    top_k: int = 20,
) -> DataFrame:
    """Sampled eccentricity LOWER bounds: for any source set S,
    ecc(v) >= max_{s in S} d(s, v) — the bounding side of the
    iFUB / Takes-Kosters eccentricity framework (exact all-pairs
    eccentricity is |V| BFS traversals; sampled max-distance bounds
    are the 100-TB-sane estimate, and the max over the PER-NODE
    column doubles as a diameter lower bound: diam >= max row).
    Distances are hop-truncated at ``max_hops``, so every reported
    value is min(true bound, max_hops) — still a valid lower bound.
    Returns (id, ecc_lb), ecc_lb desc / id, top-k; sources themselves
    appear with their distance to the farthest co-sampled source.

    Scale shape: identical to :func:`harmonic_sampled` — the shared
    multi-source BFS visited relation, then one hash MAX aggregate."""
    visited = _multi_source_bfs(und, sources, max_hops)
    return (
        visited.groupBy(F.col("v").alias("id"))
        .agg(F.max("d").alias("ecc_lb"))
        .orderBy(F.desc("ecc_lb"), "id")
        .limit(top_k)
    )


def distance_distribution(
    und: DataFrame,
    sources: list[str],
    max_hops: int = 6,
    percentile: float = 0.9,
) -> DataFrame:
    """Sampled hop-distance distribution + effective diameter — the
    neighbourhood-function estimate of the ANF / HyperANF lineage
    (Palmer et al. KDD'02; Boldi-Rosa-Vigna WWW'11): count reachable
    (source, node) pairs at each hop distance d from a sampled source
    set, and flag the smallest d whose cumulative share reaches
    ``percentile`` — the standard "effective diameter" (90th
    percentile by default) that web-graph papers report instead of the
    outlier-dominated true diameter.  Returns one row per hop
    1..max_hops actually reached: (d, n_pairs, cum_pairs, cum_frac,
    eff_diameter), ordered by d; cum_frac is ROUND(cum/total, 6) for
    display, but the eff_diameter flag is decided in pure BIGINT
    arithmetic (cum * 1e6 >= total * round(percentile * 1e6)) so the
    verdict is engine/rerun-exact with no float-threshold ambiguity.

    Scale shape: the shared :func:`_multi_source_bfs` visited relation
    (all sources advance together as a key column — one join + one
    distinct + one anti-join per level, never |S| traversals), then
    ONE hash aggregate down to <= max_hops rows; the cumulative /
    total windows run on that hop-radius-bounded relation, never on
    the graph.  HyperANF replaces the exact visited set with HLL
    registers to take this from sampled to all-sources at 100 TB; the
    sampled form here is the oracle-exact estimator."""
    num = int(round(percentile * 1_000_000))
    hist = (
        _multi_source_bfs(und, sources, max_hops)
        .where(F.col("d") > 0)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    cum_w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    all_w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lag_w = Window.orderBy("d")
    cum = hist.select(
        "d",
        "n_pairs",
        F.sum("n_pairs").over(cum_w).alias("cum_pairs"),
        F.sum("n_pairs").over(all_w).alias("total"),
    ).select(
        "*",
        F.coalesce(
            F.lag("cum_pairs").over(lag_w), F.lit(0).cast("long")
        ).alias("prev_cum"),
    )
    return cum.select(
        "d",
        "n_pairs",
        "cum_pairs",
        F.round(F.col("cum_pairs") / F.col("total"), 6).alias("cum_frac"),
        (
            (F.col("cum_pairs") * 1_000_000 >= F.col("total") * num)
            & (F.col("prev_cum") * 1_000_000 < F.col("total") * num)
        ).alias("eff_diameter"),
    ).orderBy("d")


def squares_count(und: DataFrame, max_degree: int | None = 64) -> DataFrame:
    """4-cycle (square / rectangle) count — the bipartite-core signal
    behind link-farm and mirror-cluster detection (Kleinberg et al.'s
    bipartite cores; Wang et al. VLDB'19 rectangle counting): a square
    u-v-w-x has two diagonal pairs, and a pair (u, w) with c common
    neighbours closes C(c, 2) squares on that diagonal, so
    ``n_squares = sum over unordered pairs C(c, 2) / 2`` (each square
    counted at both diagonals — the sum is provably even).  Semantics
    under ``max_degree``: the count is EXACT on the subgraph of nodes
    with degree <= max_degree (hubs removed up front, the documented
    betweenness-style restriction) — a center-only cap would break the
    both-diagonals pairing and make /2 wrong, so all four corners are
    capped.  Returns ONE row (n_squares, n_diag_pairs, max_common):
    the square count, the number of wedge-connected pairs, and the
    largest co-neighbourhood (the worst bipartite core's width).

    Scale shape: degree agg -> two semi-joins to restrict the
    adjacency -> ONE wedge self-join on the shared middle (never
    all-pairs; per-center cost deg^2 <= max_degree^2 by construction
    — the cap IS the skew guard) -> one (u, w) hash agg -> one 1-row
    rollup, all counts BIGINT-exact."""
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    if max_degree is not None:
        deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") <= max_degree).select("cid")
        adj = adj.join(keep, "cid").join(
            keep.withColumnRenamed("cid", "nbr_id"), "nbr_id"
        )
    n1 = adj.select("cid", F.col("nbr_id").alias("u"))
    n2 = adj.select("cid", F.col("nbr_id").alias("w"))
    diag = (
        n1.join(n2, "cid")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return diag.agg(
        (F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)), F.lit(0)) / 4)
        .cast("long")
        .alias("n_squares"),
        F.count(F.lit(1)).alias("n_diag_pairs"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_common"),
    )


def rich_club(
    und: DataFrame,
    thresholds: tuple[int, ...] = (1, 2, 4, 8, 16, 32, 64),
) -> DataFrame:
    """Rich-club coefficient per degree threshold (Zhou-Mondragon
    2004; Colizza et al. Nature Physics 2006): phi(k) = 2 * E_k /
    (N_k * (N_k - 1)) where N_k / E_k count nodes of degree > k and
    edges with BOTH endpoints of degree > k — the do-the-hubs-wire-
    to-each-other diagnostic (a rich club near 1.0 on a web graph is
    a link-exchange cartel; near 0 the hubs are independent portals).
    Returns one row per threshold: (k, n_nodes, n_edges, phi), phi
    ROUND(·, 6) and NULL when N_k < 2 (undefined, not zero), ordered
    by k.  Counts are BIGINT-exact; the single division per row is
    the only float.

    Scale shape: degree agg -> one two-sided deg join to tag each
    undirected edge with min(deg_a, deg_b) (node-bound dimension,
    broadcastable) -> the threshold list EXPLODED as a literal array
    onto the node / edge relations (|thresholds| x rows, never a
    cartesian or a per-k pass) -> one hash agg each -> a |thresholds|-
    row equi-join.  No collect; every count ships as a partial."""
    ks = F.array(*[F.lit(int(k)) for k in thresholds])
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("deg"))
    nodes_k = (
        deg.select(F.explode(ks).alias("k"), "deg")
        .groupBy("k")
        .agg(F.sum(F.when(F.col("deg") > F.col("k"), 1).otherwise(0)).alias("n_nodes"))
    )
    edges = adj.select(
        F.least("cid", "nbr_id").alias("a"), F.greatest("cid", "nbr_id").alias("b")
    ).distinct()
    emin = (
        edges.join(deg.withColumnRenamed("cid", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("cid", "b").withColumnRenamed("deg", "db"), "b")
        .select(F.least("da", "db").alias("mindeg"))
    )
    edges_k = (
        emin.select(F.explode(ks).alias("k"), "mindeg")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("mindeg") > F.col("k"), 1).otherwise(0)).alias("n_edges")
        )
    )
    return (
        nodes_k.join(edges_k, "k")
        .select(
            "k",
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") >= 2,
                F.round(
                    F.lit(2) * F.col("n_edges")
                    / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
                    6,
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


def drift_search(
    und: DataFrame,
    labels: DataFrame,
    mentions: DataFrame,
    pattern: str,
    iters: int = 10,
    top_k: int = 20,
    und_prepared: bool = False,
) -> DataFrame:
    """GraphRAG DRIFT search (Microsoft GraphRAG's global-then-local
    drill-down), extractive-deterministic: the GLOBAL phase ranks
    communities by query relevance (:func:`global_search`) and picks
    the winner; the LOCAL phase re-seeds personalized PageRank at the
    winner community's query-matched member concepts and expands their
    neighborhood — so the answer context is anchored in the single
    most relevant community but may drift across its boundary where
    the graph says the evidence lives.  Returns (id, lemma, community,
    is_seed, rank, n_mentions), rank desc / id.

    Driver-side state is two bounded collects: the 1-row global winner
    and the seed id list (query-matched members of ONE community —
    query-relevant-sized, not corpus-sized).  Everything else is the
    PPR plan plus two key joins."""
    g = global_search(labels, mentions, pattern, top_k=1).collect()
    spark = und.sparkSession
    empty = spark.createDataFrame(
        [],
        "id string, lemma string, community string, is_seed long, "
        "rank double, n_mentions bigint",
    )
    if not g:
        return empty
    top_comm = g[0]["community"]
    matched = (
        mentions.where(F.col("lemma").contains(pattern))
        .select(F.col("concept_id").alias("id"))
        .distinct()
    )
    seeds = sorted(
        r["id"]
        for r in matched.join(
            labels.where(F.col("label") == top_comm).select("id"), "id"
        ).collect()
    )
    if not seeds:
        return empty
    pr = personalized_pagerank(
        und, seeds, iters=iters, top_k=top_k, prepared=und_prepared
    )
    stats = mentions.groupBy(F.col("concept_id").alias("id")).agg(
        F.min("lemma").alias("lemma"),
        F.count(F.lit(1)).alias("n_mentions"),
    )
    return (
        pr.join(stats, "id", "left")
        .join(labels.withColumnRenamed("label", "community"), "id", "left")
        .select(
            "id",
            "lemma",
            "community",
            F.col("id").isin(seeds).cast("long").alias("is_seed"),
            "rank",
            F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
        )
        .orderBy(F.desc("rank"), "id")
    )


def scc(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    max_peel: int = 20,
    max_prop: int = 200,
) -> DataFrame:
    """Strongly connected components over a DIRECTED edge view ->
    (id, scc_id) with scc_id = min node id of the SCC — the directed
    counterpart of :func:`~..operators.canonicalize.connected_components`
    (which sees only the undirected skeleton and merges nodes that are
    NOT mutually reachable).  On a knowledge graph SCCs are the
    mutually-entailed cores: sets of concepts every one of which can
    reach every other following edge direction.

    Algorithm: iterative trim + forward-coloring + backward-mark
    peeling (Orzan's coloring method, the standard Pregel/dataflow SCC
    — e.g. Salihoglu & Widom, GPS 2014; Tarjan's stack DFS is
    inherently sequential and cannot be expressed as dataflow):

      1. TRIM: a node with no in-edges or no out-edges in the live
         subgraph is a singleton SCC — peel whole frontier layers per
         round until stable.
      2. COLOR: propagate color(v) = min(color(u)) over in-edges to a
         fixpoint — color(v) = the smallest live node id that reaches
         v.  Fixpoint detected by checksum, not a fixed round count.
      3. MARK: roots are nodes with color(r) = r (nothing smaller
         reaches them).  Propagate marks BACKWARD from roots along
         edges whose endpoints share a color: marked nodes of color r
         are exactly SCC(r) (standard coloring lemma — every node on
         a v->r path inside the color class is itself mutually
         reachable with r, so the restricted backward BFS can neither
         escape the SCC nor miss a member).
      4. Peel marked nodes and repeat: an SCC is discovered in the
         round where its minimum member becomes a root, so each round
         peels at least one SCC per color chain.

    Exactness does not depend on the iteration caps — both inner
    loops run to checksum fixpoint and RAISE if the cap cuts them
    off early, as does the outer peel budget (loud, never wrong —
    the caps are defense against pathological inputs like 10^6-long
    directed chains/cycles, whose min-label propagation distance is
    O(n); no real co-occurrence or precedence graph produces them,
    and ``max_prop`` bounds the graph's directed eccentricity from
    the min-id nodes, not its size).

    Scale shape: every step is one equi-join + one hash aggregate
    over the live edge set; the live set only shrinks (typically
    collapsing after round 1 on web-ish graphs, whose giant SCC
    usually contains the global min id); per-round relations are
    localCheckpoint-truncated at a size-derived partition count, the
    same regime as connected_components / pagerank_und.  Backward
    marking joins on the color-restricted edge list, which is a
    subset of live edges.  Nodes appearing only in self-loops or
    isolated are the caller's to union in, as with
    connected_components.
    """
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts = scale.iter_parts(spark, e.count())
    e = e.coalesce(parts)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )

    def _ck(df, *cols):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # start from an empty (id, scc_id) frame so empty / all-self-loop
    # inputs return an empty result instead of dereferencing None
    assigned = nodes.select("id", F.col("id").alias("scc_id")).limit(0)

    # job-count discipline (the per-round latency floor dominates this
    # algorithm on any graph whose live set fits in memory): every
    # round fuses its lineage truncation (lazy localCheckpoint) with
    # its fixpoint probe (count/checksum) into ONE driver action, the
    # emptiness probes ride the counts the rounds already take, and
    # the accumulated (id, scc_id) parts stay lazy — they reference
    # only checkpointed frames, so the final plan is shallow.  Loop
    # shuffles are sized to the live edge set (functions/scale.py).
    def _acc(part: DataFrame):
        nonlocal assigned
        assigned = assigned.unionByName(part)

    n_nodes = nodes.count()
    with scale.scoped_shuffle_partitions(spark, parts):
        for _ in range(max_peel):
            # --- 1. trim singleton SCCs (no in- or no out-edge) in layers
            while True:
                if n_nodes == 0:
                    return assigned.select("id", "scc_id")
                live = (
                    e.select("src").distinct()
                    .join(e.select("dst").distinct(), F.col("src") == F.col("dst"))
                    .select(F.col("src").alias("id"))
                    .localCheckpoint(eager=False)
                )
                n_live = live.count()
                if n_live == n_nodes:
                    break
                _acc(
                    nodes.join(live, "id", "left_anti").select(
                        "id", F.col("id").alias("scc_id")
                    )
                )
                nodes = live.coalesce(parts)
                n_nodes = n_live
                e = scale.ckpt(
                    e.join(live.withColumnRenamed("id", "src"), "src")
                    .join(live.withColumnRenamed("id", "dst"), "dst")
                    .select("src", "dst"),
                    parts,
                )
            # --- 2. forward min-color propagation to fixpoint
            color = nodes.select("id", F.col("id").alias("c"))
            prev, converged = None, False
            for _ in range(max_prop):
                inflow = (
                    e.join(
                        color.select(F.col("id").alias("src"), F.col("c").alias("cs")),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("cs").alias("cin"))
                )
                color = scale.ckpt(
                    color.join(inflow, "id", "left").select(
                        "id", F.least("c", F.coalesce("cin", "c")).alias("c")
                    ),
                    parts,
                )
                cur = _ck(color, "id", "c")
                if cur == prev:
                    converged = True
                    break
                prev = cur
            if not converged:
                raise ValueError(
                    "scc: color propagation did not reach a fixpoint in "
                    f"{max_prop} rounds — raise max_prop (long directed chain?)"
                )
            # --- 3. backward mark from roots along same-color edges
            ce = (
                e.join(color.select(F.col("id").alias("src"), F.col("c").alias("c1")), "src")
                .join(color.select(F.col("id").alias("dst"), F.col("c").alias("c2")), "dst")
                .where(F.col("c1") == F.col("c2"))
                .select("src", "dst")
                .coalesce(parts)
                .localCheckpoint(eager=True)
            )
            mark = color.where(F.col("c") == F.col("id")).select("id")
            prev, converged = None, False
            for _ in range(max_prop):
                grown = scale.ckpt(
                    ce.join(mark.withColumnRenamed("id", "dst"), "dst")
                    .select(F.col("src").alias("id"))
                    .unionByName(mark)
                    .distinct(),
                    parts,
                )
                cur = _ck(grown, "id")
                mark = grown
                if cur == prev:
                    converged = True
                    break
                prev = cur
            if not converged:
                raise ValueError(
                    "scc: backward marking did not reach a fixpoint in "
                    f"{max_prop} rounds — raise max_prop"
                )
            _acc(
                color.join(mark, "id").select("id", F.col("c").alias("scc_id"))
            )
            nodes = scale.ckpt(nodes.join(mark, "id", "left_anti"), parts)
            n_nodes = nodes.count()
            if n_nodes == 0:
                return assigned.select("id", "scc_id")
            e = scale.ckpt(
                e.join(mark.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(mark.withColumnRenamed("id", "dst"), "dst", "left_anti"),
                parts,
            )
    raise ValueError(
        "scc: peel budget exhausted with live nodes remaining — raise max_peel"
    )


def _directed_closure(
    e: DataFrame, seeds: DataFrame, forward: bool, max_rounds: int = 60
) -> DataFrame:
    """Reachability closure over a directed (src, dst) edge relation
    from a seed node set — frontier BFS to an EMPTY-frontier fixpoint
    (one equi-join + one distinct + one anti-join per round,
    localCheckpoint lineage truncation; the scc/_multi_source_bfs
    regime).  ``forward=False`` walks edges backward.  Seeds are
    included in the returned (id) set.  Raises loudly if ``max_rounds``
    cuts the fixpoint off — the cap bounds the graph's directed
    eccentricity from the seeds, never silently truncates."""
    step = e if forward else e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    visited = seeds.select("id").distinct().localCheckpoint(eager=True)
    frontier = visited
    # ONE driver action per round: the frontier's lazy checkpoint is
    # materialized by its own count (which replaces the isEmpty
    # probe), and the visited union stays lazy until the next round's
    # count (or the caller's action) materializes it — both frames
    # reference only checkpointed parents, so lineage stays shallow
    for _ in range(max_rounds):
        nxt = (
            frontier.join(step, frontier["id"] == step["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        frontier = nxt.join(visited, "id", "left_anti").localCheckpoint(eager=False)
        if frontier.count() == 0:
            return visited
        visited = visited.unionByName(frontier).localCheckpoint(eager=False)
    raise ValueError(
        "directed closure did not reach a fixpoint in "
        f"{max_rounds} rounds — raise max_rounds (long directed chain?)"
    )


def bowtie(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    max_rounds: int = 60,
    labels: DataFrame | None = None,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al.
    WWW 2000 — THE web-graph macro-structure result): pick the largest
    SCC as the CORE (ties broken by min scc_id), then classify every
    node into exactly one of

    * ``CORE`` — the giant SCC;
    * ``IN`` — reaches the core but is not in it;
    * ``OUT`` — reachable from the core but not in it;
    * ``TUBES`` — on an IN -> OUT path that bypasses the core
      (reachable from IN and reaching OUT, not CORE/IN/OUT);
    * ``TENDRILS`` — hanging off IN (forward) or OUT (backward)
      without closing a tube;
    * ``DISCONNECTED`` — everything else among the edge-incident
      nodes (isolated nodes are the caller's to union in, as with
      :func:`scc`).

    Returns (component, n_nodes), one row per NON-EMPTY class,
    ordered by component — the macro-shape histogram a crawl-health
    dashboard reads (a shrinking CORE share round-over-round means
    the crawler is accumulating dead-end spam islands).

    Scale shape: one :func:`scc` run (trim + coloring peel), then
    FOUR :func:`_directed_closure` BFS passes (core forward/backward,
    IN forward, OUT backward) — each one equi-join + distinct +
    anti-join per round over the live edge relation; classification
    is pure anti-join set algebra on (id) relations; the final count
    is one hash aggregate to <= 6 rows.  No collect anywhere — the
    core is selected with a 1-row orderBy-limit relation, joined, not
    folded into literals."""
    e = (
        edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # labels= lets a caller inject the precomputed (id, scc_id)
    # relation for these edges (the community_hierarchy l0= seam):
    # kg_scc and kg_bowtie otherwise each run the full peeling loop
    if labels is None:
        labels = scc(edges, src=src, dst=dst)
    core_lab = (
        labels.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), "scc_id")
        .limit(1)
        .select("scc_id")
    )
    core = labels.join(core_lab, "scc_id").select("id").localCheckpoint(eager=True)

    # the four BFS closures pair into two independent chains
    # (core->OUT->back_out and core->IN->fwd_in): run the chains as
    # concurrent driver threads so each round's straggler tail
    # back-fills with the other chain's stages (guide §2.6); every
    # closure is the same frontier BFS as before, results unchanged
    def _chain_out():
        rplus = _directed_closure(e, core, forward=True, max_rounds=max_rounds)
        out = rplus.join(core, "id", "left_anti").localCheckpoint(eager=True)
        back_out = _directed_closure(e, out, forward=False, max_rounds=max_rounds)
        return out, back_out

    def _chain_in():
        rminus = _directed_closure(e, core, forward=False, max_rounds=max_rounds)
        inn = rminus.join(core, "id", "left_anti").localCheckpoint(eager=True)
        fwd_in = _directed_closure(e, inn, forward=True, max_rounds=max_rounds)
        return inn, fwd_in

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_out = ex.submit(_chain_out)
        f_in = ex.submit(_chain_in)
        out, back_out = f_out.result()
        inn, fwd_in = f_in.result()
    known = core.unionByName(inn).unionByName(out).distinct()
    tubes = (
        fwd_in.join(back_out, "id").join(known, "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    tendrils = (
        fwd_in.unionByName(back_out)
        .distinct()
        .join(known, "id", "left_anti")
        .join(tubes, "id", "left_anti")
    )
    disc = (
        nodes.join(known, "id", "left_anti")
        .join(fwd_in, "id", "left_anti")
        .join(back_out, "id", "left_anti")
    )
    tagged = (
        core.withColumn("component", F.lit("CORE"))
        .unionByName(inn.withColumn("component", F.lit("IN")))
        .unionByName(out.withColumn("component", F.lit("OUT")))
        .unionByName(tubes.withColumn("component", F.lit("TUBES")))
        .unionByName(tendrils.withColumn("component", F.lit("TENDRILS")))
        .unionByName(disc.withColumn("component", F.lit("DISCONNECTED")))
    )
    return (
        tagged.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("component")
    )


def maximal_matching(
    edges: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    seed: str = "mm",
    max_rounds: int = 40,
) -> DataFrame:
    """Maximal matching over an undirected edge list -> the matched
    edges (a_id, b_id): no node appears twice, and no unmatched edge
    has both endpoints free.  The KG production use is safe pairwise
    entity merging — each merge round fuses every entity with at most
    ONE partner, so a duplicate-candidate pair list becomes a
    conflict-free parallel merge wave (the matching is exactly the
    wave schedule).

    Parallel rule: an edge joins the matching when its hash priority
    md5(seed | a | b) is the minimum among live edges at BOTH
    endpoints; matched endpoints and their incident edges leave the
    graph.  With a static total order this computes exactly the
    sequential GREEDY matching over that order (the same
    local-minimum argument as Luby MIS == lexicographically-first
    MIS), so the result is round-/partitioning-/engine-independent,
    testable against a five-line sequential greedy, and >= 1/2 the
    maximum matching size (greedy guarantee).

    Scale shape: per round one min-aggregate over live edge endpoints
    + one self-semi-join (the both-endpoints-agree test) + an
    anti-join wave of removals; a constant fraction of edges dies per
    round in expectation with hash priorities (O(log m) rounds
    w.h.p.), relations localCheckpoint-truncated at size-derived
    parallelism — the connected_components regime.  RAISES if
    ``max_rounds`` is exhausted with live edges remaining."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).cast("string").alias("a_id"),
            F.greatest(F.col(a), F.col(b)).cast("string").alias("b_id"),
        )
        .where(F.col("a_id") != F.col("b_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sc_ = edges.sparkSession.sparkContext
    parts = min(sc_.defaultParallelism, max(8, e.count() // 100_000 + 1))
    live = e.coalesce(parts)
    pri = F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("a_id"), F.col("b_id")))
    matched = None
    # ONE driver action per round (the Luby-MIS/CC regime): live's
    # count materializes the round's lazy checkpoints and doubles as
    # the emptiness probe the old isEmpty + three eager checkpoints
    # paid four jobs for; lazy truncation keeps planning linear (win
    # and live are each referenced twice downstream)
    n_live = live.count()
    for _ in range(max_rounds):
        if n_live == 0:
            break
        pe = live.select("a_id", "b_id", pri.alias("p"))
        ends = pe.select(F.col("a_id").alias("node"), "p").unionByName(
            pe.select(F.col("b_id").alias("node"), "p")
        )
        node_min = ends.groupBy("node").agg(F.min("p").alias("mp"))
        win = (
            pe.join(
                node_min.withColumnRenamed("node", "a_id").withColumnRenamed(
                    "mp", "ma"
                ),
                "a_id",
            )
            .join(
                node_min.withColumnRenamed("node", "b_id").withColumnRenamed(
                    "mp", "mb"
                ),
                "b_id",
            )
            .where((F.col("p") == F.col("ma")) & (F.col("p") == F.col("mb")))
            .select("a_id", "b_id")
            .localCheckpoint(eager=False)
        )
        matched = win if matched is None else matched.unionByName(win)
        dead = (
            win.select(F.col("a_id").alias("node"))
            .unionByName(win.select(F.col("b_id").alias("node")))
            .distinct()
        )
        live = (
            live.join(dead.withColumnRenamed("node", "a_id"), "a_id", "left_anti")
            .join(dead.withColumnRenamed("node", "b_id"), "b_id", "left_anti")
            .select("a_id", "b_id")
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
        n_live = live.count()
    else:
        raise RuntimeError(
            f"maximal_matching: {max_rounds} rounds exhausted with live edges"
        )
    if matched is None:
        return e.limit(0)
    return matched


def independent_set(
    und: DataFrame, seed: str = "mis", max_rounds: int = 40
) -> DataFrame:
    """Maximal independent set over an undirected (cid, nbr_id) view
    -> (id, in_mis) for every node — Luby's classic parallel MIS
    (Luby 1986) with STATIC deterministic priorities: node priority
    is md5(seed | id) (id-suffixed, so priorities are total and
    collision-free), and each round every live node whose priority
    beats all its live neighbors joins the set; winners and their
    neighbors leave the graph.  With static priorities the parallel
    rounds compute exactly the LEXICOGRAPHICALLY-FIRST MIS in
    priority order (the greedy result), so the output is independent
    of round structure, partitioning, and engine — and testable
    against a five-line sequential greedy.

    An MIS is the classic scheduling primitive: a maximal set of
    concepts no two of which co-occur (conflict-free batch), also the
    1-hop diversification picker for retrieval (take high-rank nodes,
    MIS them to kill near-neighbors).

    Scale shape: per round, one join + one min-aggregate over the
    live adjacency (the winner test), one semi-join wave of removals,
    live set strictly shrinks (the global-min-priority node always
    wins, and in expectation a constant fraction of EDGES dies per
    round — Luby's theorem, O(log n) rounds w.h.p.); every round's
    relations are localCheckpoint-truncated at size-derived
    parallelism, the connected_components regime.  Nodes with no
    edges are the caller's to union in (they are trivially in the
    MIS)."""
    adj = (
        und.select(F.col("cid").cast("string"), F.col("nbr_id").cast("string"))
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sc_ = und.sparkSession.sparkContext
    parts = min(sc_.defaultParallelism, max(8, adj.count() // 100_000 + 1))
    adj = adj.coalesce(parts)

    def _pri(col):
        return F.concat(
            F.md5(F.concat_ws("|", F.lit(str(seed)), col)), F.lit("|"), col
        )

    all_nodes = (
        adj.select(F.col("cid").alias("id"))
        .unionByName(adj.select(F.col("nbr_id").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
        .coalesce(parts)
    )
    live = all_nodes
    mis = None
    # job-count discipline (the CC regime): each round takes ONE
    # driver action — live's count materializes the round's lazy
    # checkpoints (winners, live; the shrunken adjacency rides into
    # the next round's job) AND answers the emptiness probe the old
    # isEmpty + three eager checkpoints paid four jobs for.  Lazy
    # truncation also keeps Catalyst planning linear: winners and adj
    # are each referenced twice downstream.
    n_live = live.count()
    for _ in range(max_rounds):
        if n_live == 0:
            break
        pri = live.select("id", _pri(F.col("id")).alias("p"))
        minnb = (
            adj.join(
                pri.select(F.col("id").alias("nbr_id"), F.col("p").alias("pn")),
                "nbr_id",
            )
            .groupBy(F.col("cid").alias("id"))
            .agg(F.min("pn").alias("mn"))
        )
        winners = (
            pri.join(minnb, "id", "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("id")
            .localCheckpoint(eager=False)
        )
        mis = winners if mis is None else mis.unionByName(winners)
        touched = winners.unionByName(
            adj.join(winners.withColumnRenamed("id", "cid"), "cid").select(
                F.col("nbr_id").alias("id")
            )
        ).distinct()
        live = (
            live.join(touched, "id", "left_anti")
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
        adj = (
            adj.join(live.withColumnRenamed("id", "cid"), "cid")
            .join(live.withColumnRenamed("id", "nbr_id"), "nbr_id")
            .select("cid", "nbr_id")
            .coalesce(parts)
            .localCheckpoint(eager=False)
        )
        n_live = live.count()
    else:
        if n_live != 0:
            raise ValueError(
                "independent_set: round budget exhausted — raise max_rounds"
            )
    mis = mis if mis is not None else all_nodes.limit(0)
    return all_nodes.join(
        mis.withColumn("in_mis", F.lit(True)), "id", "left"
    ).select("id", F.coalesce("in_mis", F.lit(False)).alias("in_mis"))


def degree_assortativity(und: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, eq. 4): the
    Pearson correlation of the degrees at the two ends of each edge,
    computed over directed STUBS (each undirected edge contributes
    both (j,k) and (k,j), which is exactly what the both-directions
    ``(cid, nbr_id)`` adjacency view already is).  r > 0 means hubs
    attach to hubs (social-network shape), r < 0 means hubs attach to
    leaves (web / biology shape) — the one-scalar summary of whether
    a co-occurrence graph's hot keys will meet OTHER hot keys in a
    join, i.e. whether skew compounds.

    Numerics: degrees are integers, so every aggregate
    (sum jk, sum j, sum j^2 over stubs) is an EXACT integer carried
    in a BIGINT-safe double until the single final division — the
    result is bit-identical across engines and partitionings, no
    rounding games needed beyond the final ROUND(6).

    Returns one row (n_nodes, n_edges, r).

    Scale shape: one degree aggregate (map-side combine) + one
    vocab-sized broadcast-ish join per endpoint + one 1-row global
    aggregate.  Nothing but (id, degree) pairs shuffle; the raw edge
    relation is touched once.  Self-loops are excluded like every
    other undirected view here.
    """
    adj = (
        und.select(F.col("cid").cast("string"), F.col("nbr_id").cast("string"))
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
    )
    deg = adj.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    stubs = (
        adj.join(deg.withColumnRenamed("id", "cid"), "cid")
        .withColumnRenamed("degree", "j")
        .join(
            deg.select(F.col("id").alias("nbr_id"), F.col("degree").alias("k")),
            "nbr_id",
        )
    )
    # Newman eq. 4 with M = number of stubs: all sums exact integers.
    agg = stubs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum((F.col("j") + F.col("k")) / F.lit(2.0)).alias("sj"),
        F.sum((F.col("j") * F.col("j") + F.col("k") * F.col("k")) / F.lit(2.0)).alias(
            "sj2"
        ),
    )
    n_nodes = deg.count()
    return agg.select(
        F.lit(n_nodes).alias("n_nodes"),
        (F.col("m") / F.lit(2)).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("sjk") / F.col("m") - (F.col("sj") / F.col("m")) * (F.col("sj") / F.col("m")))
            / (F.col("sj2") / F.col("m") - (F.col("sj") / F.col("m")) * (F.col("sj") / F.col("m"))),
            6,
        ).alias("r"),
    )


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    iters: int = 8,
    top_k: int = 20,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Katz centrality (Katz 1953) over a DIRECTED edge view
    ``(src_id, dst_id)``: x_{t+1}(v) = beta + alpha * SUM x_t(u) over
    in-edges (u, v), x_0 = beta.  Unlike PageRank there is NO
    out-degree normalization, so a node pointed at by many well-
    pointed-at nodes accumulates mass even when those pointers also
    fan out widely — on the triple graph this ranks the generic
    object concepts (the `is_a` targets) by total attenuated
    path-count support, the natural "how much evidence transitively
    backs this node" score.

    The output is DEFINED as the value after exactly ``iters`` rounds
    (the geometric series truncated at path length ``iters``) — well-
    defined for any alpha, and for alpha < 1/lambda_max it is within
    (alpha*lambda_max)^iters of the fixed point.  No per-round
    normalization: like :func:`hits`, the iteration is linear and the
    raw values stay far from overflow at any real scale
    (max growth per round is alpha * max_in_degree).

    Returns (id, katz) rounded to 6 dp, katz desc / id, top-k.

    Scale shape: identical to :func:`hits` — the distinct edge list is
    materialized once, each round is ONE equi-join + ONE hash
    aggregate keyed on dst (map-side partial agg), lineage truncated
    every ``checkpoint_every`` rounds at a size-derived partition
    count.  Only (id, score) pairs shuffle.
    """
    sc = edges.sparkSession.sparkContext
    edges = (
        edges.select(
            F.col("src_id").cast("string"), F.col("dst_id").cast("string")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    edges = edges.coalesce(parts)
    nodes = (
        edges.select(F.col("src_id").alias("id"))
        .unionByName(edges.select(F.col("dst_id").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
        .coalesce(parts)
    )
    # broadcast the node-cardinality score vector under a size gate
    # (one shuffle per round: the aggregate) — guide §3.1
    bcast = nodes.count() <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    x = nodes.withColumn("x", F.lit(float(beta)))
    for i in range(iters):
        inflow = (
            edges.join(_b(x.withColumnRenamed("id", "src_id")), "src_id")
            .groupBy(F.col("dst_id").alias("id"))
            .agg(F.sum("x").alias("inflow"))
        )
        x = nodes.join(_b(inflow), "id", "left").select(
            "id",
            (
                F.lit(float(beta))
                + F.lit(float(alpha)) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("x"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            x = x.coalesce(parts).localCheckpoint(eager=True)
    return (
        x.select("id", F.round("x", 6).alias("katz"))
        .orderBy(F.desc("katz"), "id")
        .limit(top_k)
    )


def vertex_cover(
    edges: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    seed: str = "mm",
    max_rounds: int = 40,
) -> DataFrame:
    """2-approximate minimum vertex cover: both endpoints of every
    edge in the greedy-equivalent :func:`maximal_matching`.  The
    classic guarantee: the matched edges are node-disjoint, so ANY
    cover must pick >= 1 node from each — at least |M| nodes — while
    this cover has exactly 2|M|; and it IS a cover because an
    uncovered edge would have both endpoints unmatched, contradicting
    maximality.  KG production use: the minimum set of entities whose
    review/annotation touches every candidate-duplicate pair.

    Returns (id), ordered.  Scale shape: the matching's cost plus one
    projection + distinct — nothing new moves."""
    m = maximal_matching(edges, a=a, b=b, seed=seed, max_rounds=max_rounds)
    return (
        m.select(F.col(a).alias("id"))
        .unionByName(m.select(F.col(b).alias("id")))
        .distinct()
        .orderBy("id")
    )


def label_spreading(
    und: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Seed-clamped, frontier-monotone label spreading — the
    semi-supervised node-classification primitive (given a few
    labeled entities, type the rest of the graph by proximity).
    Distinct from :func:`label_propagation` (community detection): the
    seed labels are CLAMPED, a node KEEPS its first label (monotone
    frontier — no oscillation by construction, unlike sync-LPA), and
    each round only still-unlabeled nodes vote among their labeled
    neighbors (majority count, ties -> min label).  The result is the
    geodesic seed-Voronoi labeling with majority tie-breaks —
    deterministic across engines/partitionings.

    ``seeds``: (id, label).  Returns (id, label, round) with round =
    the BFS distance to the winning seed set (0 for seeds); nodes
    unreachable within ``iters`` rounds are absent.

    Scale shape: per round ONE equi-join of the adjacency against the
    labeled frontier... strictly the labeled SET (monotone, so the
    join input only grows by the frontier), one (node,label) hash
    aggregate and one argmax — the LPA per-round cost; lineage
    truncated every ``checkpoint_every`` rounds."""
    sc = und.sparkSession.sparkContext
    adj = (
        und.select(F.col("cid").cast("string"), F.col("nbr_id").cast("string"))
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_adj = adj.count()
    parts = min(sc.defaultParallelism, max(8, n_adj // 100_000 + 1))
    adj = adj.coalesce(parts)
    # labeled set is node-cardinality: broadcast both per-round uses
    # under a size gate (one shuffle per round: the vote aggregate)
    bcast = n_adj <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    labs = seeds.select(
        F.col("id").cast("string").alias("id"),
        F.col("label").cast("string").alias("label"),
        F.lit(0).alias("round"),
    ).localCheckpoint(eager=True)
    for k in range(1, iters + 1):
        votes = (
            adj.join(
                _b(labs.select(F.col("id").alias("nbr_id"), "label")), "nbr_id"
            )
            .join(_b(labs.select(F.col("id").alias("cid"))), "cid", "left_anti")
            .groupBy(F.col("cid").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        winners = (
            votes.groupBy("id")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("w"))
            .select("id", F.col("w.l").alias("label"), F.lit(k).alias("round"))
        )
        labs = labs.unionByName(winners)
        if k % checkpoint_every == 0 or k == iters:
            labs = labs.coalesce(parts).localCheckpoint(eager=True)
    return labs.orderBy("id")


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity: the fraction of directed edges
    whose reverse edge also exists — on the triple graph, how often a
    relation is asserted in BOTH directions (mutual is_a pairs are
    synonym candidates; high reciprocity in a causes subgraph flags
    extraction noise).  Complements :func:`degree_assortativity` as
    the second one-scalar structure summary: both are exact-integer
    aggregates with one final division, bit-identical across engines.

    Returns one row (n_edges, n_reciprocal, reciprocity).

    Scale shape: one distinct + one self-equi-join on the flipped key
    + 1-row aggregates; only (src, dst) pairs move."""
    e = (
        edges.select(
            F.col("src_id").cast("string").alias("src"),
            F.col("dst_id").cast("string").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rec = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    n = e.count()
    r = rec.count()
    # the division + ROUND happen IN-ENGINE (python round is banker's;
    # Spark/DuckDB ROUND are half-away — keep all three out of it)
    return e.sparkSession.range(1).select(
        F.lit(n).cast("bigint").alias("n_edges"),
        F.lit(r).cast("bigint").alias("n_reciprocal"),
        F.round(
            F.lit(r) / F.lit(n) if n else F.lit(0.0), 6
        ).alias("reciprocity"),
    )


def degree_centralization(und: DataFrame) -> DataFrame:
    """Freeman degree centralization: sum(max_degree - degree) over
    nodes, normalized by the star graph's value (n-1)(n-2) — 1.0 for
    a perfect star, 0.0 for a regular graph.  The third one-scalar
    structure summary next to :func:`degree_assortativity` and
    :func:`reciprocity`: "is this co-occurrence graph one mega-hub or
    a mesh?", i.e. whether per-key salting of the single hottest key
    is the right skew treatment.  Exact-integer aggregates, one
    in-engine division.

    Returns one row (n_nodes, max_degree, centralization)."""
    adj = (
        und.select(F.col("cid").cast("string"), F.col("nbr_id").cast("string"))
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
    )
    deg = adj.groupBy(F.col("cid").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    row = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("degree").alias("mx"),
        F.sum("degree").alias("sd"),
    ).collect()[0]
    n, mx, sd = row["n"], row["mx"], row["sd"]
    if n is None or n < 3:
        return und.sparkSession.createDataFrame(
            [], "n_nodes bigint, max_degree bigint, centralization double"
        )
    return und.sparkSession.range(1).select(
        F.lit(n).cast("bigint").alias("n_nodes"),
        F.lit(mx).cast("bigint").alias("max_degree"),
        F.round(
            F.lit(int(n) * int(mx) - int(sd)) / F.lit((int(n) - 1) * (int(n) - 2)),
            6,
        ).alias("centralization"),
    )


def sparsify_edges(und: DataFrame, c: float = 4.0) -> DataFrame:
    """Degree-aware spectral-style graph sparsification by effective-
    resistance PROXY (Spielman-Srivastava shape with the standard
    1/sqrt(da*db) resistance surrogate): keep edge (a,b) with
    probability p = min(1, c / sqrt(deg_a * deg_b)) and weight kept
    edges 1/p so every cut/degree statistic stays unbiased.  Low-
    degree structure survives intact (p saturates at 1); the dense
    hub-hub mesh — exactly where a web co-occurrence graph's edge mass
    explodes — thins quadratically.  The downstream win: PageRank /
    communities / triangles on the sparsified, weight-corrected graph
    at a fraction of the edge count.

    Determinism: the coin is the md5-derived 32-bit uniform
    u = (h + 0.5) / 2^32 on the canonical edge key — rerun-stable,
    engine-replayable (the DuckDB oracle flips the same coins), and
    independent of partitioning.  The accept test compares u against
    one sqrt+divide on exact BIGINT degree products — identical IEEE
    ops per engine, no accumulated float enters the branch.

    -> (a_id, b_id, p, weight) for kept edges, p/weight rounded 6,
    ordered (a_id, b_id).

    Scale shape: one degree aggregate + two broadcast-shaped joins of
    the |nodes|-row degree relation onto the edge list; the coin and
    the accept test are map-side expressions — the edge list shuffles
    only for the degree agg.  At 100 TB this is the pre-pass that
    makes the iterative families (PR/LPA/triangles) affordable.  The
    distinct adjacency localCheckpoints once: deg and the canonical
    edge list both fan out from it, and without the cut each branch
    re-runs the full upstream extraction lineage (measured 26.4 s ->
    3.6 s at the 10x corpus)."""
    adj = (
        und.select("cid", "nbr_id")
        .where(F.col("cid") != F.col("nbr_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("deg"))
    edges = adj.select(
        F.least("cid", "nbr_id").alias("a_id"), F.greatest("cid", "nbr_id").alias("b_id")
    ).distinct()
    j = edges.join(
        deg.withColumnRenamed("cid", "a_id").withColumnRenamed("deg", "da"), "a_id"
    ).join(deg.withColumnRenamed("cid", "b_id").withColumnRenamed("deg", "db"), "b_id")
    p = F.least(
        F.lit(1.0),
        F.lit(float(c)) / F.sqrt((F.col("da") * F.col("db")).cast("double")),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sp|"), F.col("a_id"), F.lit("|"), F.col("b_id"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    return (
        j.withColumn("_p", p)
        .where(u < F.col("_p"))
        .select(
            "a_id",
            "b_id",
            F.round("_p", 6).alias("p"),
            F.round(F.lit(1.0) / F.col("_p"), 6).alias("weight"),
        )
        .orderBy("a_id", "b_id")
    )


def dag_path_counts(isa: DataFrame, max_depth: int = 4) -> DataFrame:
    """Path multiplicity over the ``is_a`` DAG: for every (descendant,
    ancestor) pair reachable within ``max_depth`` hops, HOW MANY
    distinct directed paths connect them — the multiplicity the
    closure (existence) and layers (depth) views both discard, and the
    natural evidence weight for rollup/expansion (an ancestor reached
    along 6 independent chains subsumes its descendant more strongly
    than one reached along 1).

    -> (desc_id, anc_id, n_paths, min_depth), ordered.

    Scale shape: textbook semi-naive DAG DP — round d joins only the
    EXACTLY-length-(d-1) frontier against the (localCheckpointed-once)
    edge list and sum-aggregates path counts; the final merge is one
    hash aggregate over the accumulated pairs.  Counts are exact
    BIGINTs (no floats anywhere); pair canonicalization keeps the edge
    view acyclic so counts are finite and the frontier can only grow
    toward the closure, never loop."""
    isa = (
        isa.select(
            F.col("child_id").cast("string").alias("desc_id"),
            F.col("parent_id").cast("string").alias("anc_id"),
        )
        .where(F.col("desc_id") != F.col("anc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = isa.select(
        "desc_id", "anc_id", F.lit(1).cast("long").alias("n_paths"),
        F.lit(1).cast("int").alias("depth"),
    )
    total = frontier
    for d in range(2, max_depth + 1):
        frontier = (
            frontier.join(
                isa.select(
                    F.col("desc_id").alias("anc_id"),
                    F.col("anc_id").alias("_next"),
                ),
                "anc_id",
            )
            .where(F.col("desc_id") != F.col("_next"))
            .groupBy("desc_id", F.col("_next").alias("anc_id"))
            .agg(F.sum("n_paths").alias("n_paths"))
            .select(
                "desc_id", "anc_id", "n_paths", F.lit(d).cast("int").alias("depth")
            )
        )
        total = total.unionByName(frontier)
    return (
        total.groupBy("desc_id", "anc_id")
        .agg(F.sum("n_paths").alias("n_paths"), F.min("depth").alias("min_depth"))
        .orderBy("desc_id", "anc_id")
    )


def egonet_anomaly(und: DataFrame, threshold: float = 1.0) -> DataFrame:
    """OddBall-style ego-net anomaly scores (Akoglu-McGlohon-Faloutsos
    PAKDD 2010): real graphs obey a power law between a node's degree
    and its ego-net edge count (E_u = d_u + triangles_u); nodes far
    off the fitted log-log line are the structural anomalies — near-
    cliques (E >> expected: link farms, copy-paste boilerplate
    clusters) and near-stars (E << expected: spam hubs that blast
    unrelated concepts).  The web-graph fraud signal the degree/
    coreness/clustering columns can't express alone.

    -> (id, degree, ego_edges, expected_ln, residual, is_anomalous),
    residual = |ln E - (b + a ln d)| rounded 6, ordered by id (no
    float-ranked LIMIT).

    Determinism contract: the OLS slope/intercept are fitted in log
    space from four corpus sums, then ROUNDED TO 8 dp before any
    per-node expression (the fastrp round-before-dot move) — expected
    and residual are then pure functions of exact integers and two
    8-dp constants, so the per-node values are engine-exact; only the
    fit itself carries last-ulp sum-order noise, absorbed by its own
    rounding.

    Scale shape: the degree-oriented wedge join of triangle_counts
    (oriented out-degree O(sqrt(m)) bounds hub wedges), one corner
    aggregate, then the fit is a 1-row aggregate folded back as
    LITERALS (the BM25 scalar pattern) — the per-node scoring pass is
    map-side arithmetic."""
    edges = (
        und.select(
            F.least("cid", "nbr_id").alias("lo"),
            F.greatest("cid", "nbr_id").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("lo").alias("id"))
        .unionAll(edges.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("id").alias("lo"), F.col("degree").alias("dlo"))
    db = deg.select(F.col("id").alias("hi"), F.col("degree").alias("dhi"))
    oriented = (
        edges.join(da, "lo")
        .join(db, "hi")
        .select(
            F.when(F.col("dlo") <= F.col("dhi"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("src"),
            F.when(F.col("dlo") <= F.col("dhi"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("dst"),
        )
    )
    o1 = oriented.select("src", F.col("dst").alias("d1"))
    o2 = oriented.select("src", F.col("dst").alias("d2"))
    wedges = o1.join(o2, "src").where(F.col("d1") < F.col("d2"))
    tris = wedges.join(
        edges, (F.col("d1") == F.col("lo")) & (F.col("d2") == F.col("hi"))
    ).select("src", "d1", "d2")
    corners = (
        tris.select(F.col("src").alias("id"))
        .unionAll(tris.select(F.col("d1").alias("id")))
        .unionAll(tris.select(F.col("d2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    per = deg.join(corners, "id", "left").select(
        "id",
        "degree",
        (F.col("degree") + F.coalesce("triangles", F.lit(0))).alias("ego_edges"),
    )
    xy = per.select(
        F.log(F.col("degree").cast("double")).alias("x"),
        F.log(F.col("ego_edges").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).collect()[0]
    n, sx, sy = float(s["n"]), float(s["sx"]), float(s["sy"])
    sxy, sxx = float(s["sxy"]), float(s["sxx"])
    denom = n * sxx - sx * sx
    a = round((n * sxy - sx * sy) / denom, 8) if denom > 0 else 0.0
    b = round((sy - a * sx) / n, 8) if n > 0 else 0.0
    x = F.log(F.col("degree").cast("double"))
    y = F.log(F.col("ego_edges").cast("double"))
    expected = F.lit(b) + F.lit(a) * x
    resid = F.abs(y - expected)
    return per.select(
        "id",
        "degree",
        "ego_edges",
        F.round(expected, 6).alias("expected_ln"),
        F.round(resid, 6).alias("residual"),
        (resid > F.lit(float(threshold))).alias("is_anomalous"),
    ).orderBy("id")


def related_chunks(
    mentions: DataFrame,
    max_spread: int = 20,
    min_shared: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """"More like this" at the chunk level: project the chunk-concept
    bipartite graph onto chunks — two chunks sharing >= ``min_shared``
    distinct (guarded) concepts are topical siblings, ranked by shared
    count + Jaccard over their concept sets.  The ENTITY-overlap
    retrieval signal, orthogonal to lexical BM25 (kg_text_bm25) and
    embedding cosine (sim_*): two chunks about the same entities
    relate even with disjoint vocabulary.

    ``max_spread`` is the viral-concept guard (the source_overlap /
    line-dedup move): a concept mentioned in more than ``max_spread``
    chunks is corpus vocabulary, not a topical link — and it is
    exactly the key whose self-join fan-out C(spread, 2) would
    explode; dropping it bounds the pair blow-up by construction.
    Chunk concept-set sizes are computed on the SAME guarded relation
    so jaccard stays a true set statistic.

    -> (chunk_a, chunk_b, shared, na, nb, jaccard) ranked shared desc
    / chunk_a / chunk_b, top-k (integer-ranked — no float LIMIT).

    Scale shape: one spread aggregate, a semi-join-shaped filter, one
    self-join keyed on concept_id whose per-key fan-out is capped at
    C(max_spread, 2), one pair aggregate — the mentions table is the
    only corpus-scale relation and it never carries text."""
    mc = mentions.select("chunk_id", "concept_id").distinct()
    keep = (
        mc.groupBy("concept_id")
        .agg(F.count(F.lit(1)).alias("_spread"))
        .where(F.col("_spread") <= max_spread)
        .select("concept_id")
    )
    g = mc.join(keep, "concept_id").localCheckpoint(eager=True)
    sizes = g.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("concept_id"), F.col("chunk_id").alias("chunk_a"))
    b = g.select(F.col("concept_id"), F.col("chunk_id").alias("chunk_b"))
    pairs = (
        a.join(b, "concept_id")
        .where(F.col("chunk_a") < F.col("chunk_b"))
        .groupBy("chunk_a", "chunk_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("chunk_id", "chunk_a").withColumnRenamed("n", "na"), "chunk_a")
        .join(sizes.withColumnRenamed("chunk_id", "chunk_b").withColumnRenamed("n", "nb"), "chunk_b")
        .select(
            "chunk_a",
            "chunk_b",
            "shared",
            "na",
            "nb",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("shared"), "chunk_a", "chunk_b")
        .limit(top_k)
    )


def spam_mass(
    und: DataFrame,
    trusted_seeds: list[str],
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """TrustRank spam-mass estimation (Gyongyi-Garcia-Molina-Pedersen,
    VLDB 2004): run PageRank twice over the same graph — once with
    uniform teleport (PR) and once teleporting only to a TRUSTED seed
    set (TrustRank) — and score every node by the fraction of its rank
    NOT accounted for by trust flow: spam_mass = (PR - TR) / PR.
    Nodes whose prominence comes from regions trust can't reach (link
    farms, spam clusters) score near 1; well-linked legitimate nodes
    near or below 0.  The classic web-spam demotion signal, here over
    the concept graph (boilerplate/SEO concept clusters).

    -> (id, pagerank, trustrank, spam_mass, is_trusted), ranks rounded
    8, spam_mass rounded 6, full node set ordered by id.

    Scale shape: BOTH vectors iterate in ONE relation (id, pr, tr) —
    each round is a single edge join + one two-column sum aggregate,
    so the trust pass rides the PageRank pass for free instead of
    doubling the shuffle count; adjacency localCheckpoints once,
    ranks truncate every ``checkpoint_every`` rounds at a size-derived
    partition count (the pagerank_und discipline)."""
    sc = und.sparkSession.sparkContext
    und = und.select("cid", "nbr_id").distinct().localCheckpoint(eager=True)
    n_edges = und.count()
    parts = min(sc.defaultParallelism, max(8, n_edges // 100_000 + 1))
    und = und.coalesce(parts)
    deg = und.groupBy("cid").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    # loop-invariant degree pre-join + size-gated broadcasts — the
    # pagerank_und iteration shape (one shuffle per round)
    undd = und.join(deg, "cid").localCheckpoint(eager=True)
    nodes_v = (
        undd.select(F.col("cid").alias("id"))
        .distinct()
        .coalesce(parts)
        .localCheckpoint(eager=True)
    )
    n = nodes_v.count()
    present = sorted(
        r["id"]
        for r in nodes_v.where(F.col("id").isin(list(trusted_seeds))).collect()
    )
    if not present:
        raise ValueError("no trusted seed present in the graph")
    k = len(present)
    tp = F.when(F.col("id").isin(present), F.lit(1.0 / k)).otherwise(F.lit(0.0))
    bcast = n <= 1_000_000

    def _b(df):
        return F.broadcast(df) if bcast else df

    ranks = nodes_v.select("id", F.lit(1.0 / n).alias("pr"), tp.alias("tr"))
    base = (1.0 - damping) / n
    for i in range(iters):
        contribs = (
            undd.join(_b(ranks.withColumnRenamed("id", "cid")), "cid")
            .select(
                F.col("nbr_id").alias("id"),
                (F.col("pr") / F.col("deg")).alias("_ca"),
                (F.col("tr") / F.col("deg")).alias("_cb"),
            )
            .groupBy("id")
            .agg(F.sum("_ca").alias("ia"), F.sum("_cb").alias("ib"))
        )
        ranks = nodes_v.join(_b(contribs), "id", "left").select(
            "id",
            (
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("ia"), F.lit(0.0))
            ).alias("pr"),
            (
                F.lit(1.0 - damping) * tp
                + F.lit(damping) * F.coalesce(F.col("ib"), F.lit(0.0))
            ).alias("tr"),
        )
        if (i + 1) % checkpoint_every == 0 or i == iters - 1:
            ranks = ranks.coalesce(parts).localCheckpoint(eager=True)
    return ranks.select(
        "id",
        F.round("pr", 8).alias("pagerank"),
        F.round("tr", 8).alias("trustrank"),
        F.round((F.col("pr") - F.col("tr")) / F.col("pr"), 6).alias("spam_mass"),
        F.col("id").isin(present).alias("is_trusted"),
    ).orderBy("id")


def typed_degrees(triples: DataFrame) -> DataFrame:
    """Per-concept TYPED degree profile over the directed triple graph:
    out/in counts per relation family (is_a / part_of / causes /
    related_to) — the edge-type feature block node_features' untyped
    degree column flattens away, and the first thing a relation-aware
    GNN or a schema-drift monitor keys on (a concept that suddenly
    gains causes-in-degree changed role).

    -> (id, out_is_a, in_is_a, out_part_of, in_part_of, out_causes,
    in_causes, out_related, in_related, out_total, in_total),
    exact BIGINTs, ordered by id.

    Scale shape: two map-side-combined conditional aggregates (one
    keyed on subject, one on object) + one outer join on the concept
    key — the triple relation shuffles as (id, predicate) pairs
    only."""
    preds = ("is_a", "part_of", "causes", "related_to")
    names = ("is_a", "part_of", "causes", "related")

    def _sides(key: str, prefix: str) -> DataFrame:
        aggs = [
            F.sum(F.when(F.col("predicate") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"{prefix}_{n}")
            for p, n in zip(preds, names)
        ]
        return triples.groupBy(F.col(key).alias("id")).agg(
            *aggs, F.count(F.lit(1)).alias(f"{prefix}_total")
        )
    out = _sides("subj_id", "out")
    inn = _sides("obj_id", "in")
    cols = [f"{p}_{n}" for p in ("out", "in") for n in (*names, "total")]
    joined = out.join(inn, "id", "full_outer")
    return joined.select(
        "id", *[F.coalesce(c, F.lit(0)).cast("long").alias(c) for c in cols]
    ).orderBy("id")


def metapath_counts(triples: DataFrame, max_degree: int = 128) -> DataFrame:
    """Typed 2-hop meta-path census over the directed triple graph:
    for every ordered relation pair (r1, r2), how many distinct
    2-edge paths  x -[r1]-> m -[r2]-> y  exist — the schema-level
    composition signal ("causes chains into is_a" vs "part_of never
    composes") that guides which multi-hop expansions a retriever
    should even attempt, and the KG-quality smell test (a surge of
    is_a -> is_a paths = taxonomy spam).

    Edges are DISTINCT (s, p, o) — chunk multiplicity is evidence, not
    structure.  Midpoints whose total degree exceeds ``max_degree``
    are excluded (the squares_count cap): a hub mid contributes
    in_deg x out_deg paths, which is exactly the quadratic blow-up,
    and hub-mediated compositions are semantically vacuous anyway.
    Exact on the capped subgraph, deterministic.

    -> (rel1, rel2, n_paths, n_mids), ordered (rel1, rel2).

    Scale shape: one degree aggregate + the capped-mid semi-join, then
    ONE self-join keyed on the mid (per-key fan-out <= cap^2 by
    construction) and a |rel|^2-row aggregate."""
    e = triples.select("subj_id", "predicate", "obj_id").distinct()
    deg = (
        e.select(F.col("subj_id").alias("id"))
        .unionAll(e.select(F.col("obj_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_d"))
        .where(F.col("_d") <= max_degree)
        .select("id")
    )
    first = e.select(
        F.col("predicate").alias("rel1"), F.col("obj_id").alias("mid")
    ).join(deg.withColumnRenamed("id", "mid"), "mid")
    second = e.select(
        F.col("subj_id").alias("mid"), F.col("predicate").alias("rel2")
    )
    return (
        first.join(second, "mid")
        .groupBy("rel1", "rel2")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.count_distinct("mid").alias("n_mids"),
        )
        .orderBy("rel1", "rel2")
    )


def community_bridges(
    und: DataFrame, labels: DataFrame, weight_col: str | None = "freq", top_k: int = 50
) -> DataFrame:
    """Inter-community bridge edges: the connections whose endpoints
    carry DIFFERENT community labels, ranked by weight — the crossing
    points a GraphRAG global->local drill-down pivots on (which two
    topic clusters actually touch, and through which concept pair),
    and the cut edges a partitioner would pay for.

    ``und`` is the canonical undirected pair view (a_id, b_id [,
    weight_col]); ``labels`` is (id, label) from label_propagation.

    -> (a_id, b_id, weight, label_a, label_b) with label_a/label_b in
    canonical (min, max) order, ranked weight desc / a_id / b_id,
    top-k (weight is an exact BIGINT — integer-ranked LIMIT).

    Scale shape: two hash joins of the |nodes|-row label relation onto
    the edge list (broadcast at dimension size) + one filter — no new
    shuffle beyond what LPA already paid."""
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    e = und.select(
        F.col("a_id"), F.col("b_id"), w.alias("weight")
    ).groupBy("a_id", "b_id").agg(F.sum("weight").alias("weight"))
    la = labels.select(F.col("id").alias("a_id"), F.col("label").alias("_la"))
    lb = labels.select(F.col("id").alias("b_id"), F.col("label").alias("_lb"))
    return (
        e.join(la, "a_id")
        .join(lb, "b_id")
        .where(F.col("_la") != F.col("_lb"))
        .select(
            "a_id",
            "b_id",
            "weight",
            F.least("_la", "_lb").alias("label_a"),
            F.greatest("_la", "_lb").alias("label_b"),
        )
        .orderBy(F.desc("weight"), "a_id", "b_id")
        .limit(top_k)
    )


def simrank(
    pairs: DataFrame,
    c: float = 0.8,
    iters: int = 2,
    top_k: int = 50,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """SimRank node similarity (Jeh & Widom, KDD 2002) over the
    undirected concept graph: two nodes are similar when their
    NEIGHBOURS are similar — s(a,b) = c/(|N(a)||N(b)|) ·
    Σ_{i∈N(a), j∈N(b)} s(i,j), s(a,a)=1.  Iteration 1 reduces to
    scaled common-neighbour counting; iteration 2 starts surfacing
    structurally-equivalent concepts that share NO direct neighbour —
    the signal Adamic-Adar/jaccard link prediction cannot see.

    Each iteration is one adjacency-join-adjacency chain + one
    (a, b) hash aggregate; scores are ROUND(·, 6) per iteration AND
    carried as DECIMAL(18,6), so the per-iteration SUM is exact and
    order-independent (a double sum here measurably flips the 6th
    decimal on boundary rows — caught by the oracle on first run) and
    the top-k order — ranked on the exact decimal with (a, b)
    tie-break — is engine-exact.

    Returns (a_id, b_id, simrank) for the top_k canonical (a < b)
    pairs.

    Scale shape: the similarity relation is O(n²) in the CONCEPT
    vocabulary (dense pair state is inherent to SimRank) — the right
    tool for the bounded extracted-concept graph here; for open-vocab
    node similarity at 100 TB use :func:`fastrp_embeddings` +
    cosine neighbours instead (documented trade, not a limitation
    discovered later)."""
    und = (
        pairs.select(F.col(a_col).alias("node"), F.col(b_col).alias("nbr"))
        .unionByName(
            pairs.select(F.col(b_col).alias("node"), F.col(a_col).alias("nbr"))
        )
        .where(F.col("node") != F.col("nbr"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nodes = deg.select("node")
    one = F.lit(1.0).cast("decimal(18,6)")
    s = nodes.select(
        F.col("node").alias("i"), F.col("node").alias("j"), one.alias("v")
    )
    for _ in range(iters):
        # matrix-chain association: aggregate Σ_i s(i,j) per (a, j)
        # BETWEEN the two adjacency joins instead of after both.  The
        # naive und ⋈ s ⋈ und enumerates Σ_{(i,j)∈s} d(i)·d(j) rows
        # (measured 101M at sf0.1) before one big (a, b) aggregate;
        # the two-stage form's fan-out is Σ d(i)·|s_i| + Σ |t_j|·d(j)
        # (measured ~7.5M, a 13x cut — guide §2.3 "aggregate before
        # you shuffle").  Sums stay DECIMAL end-to-end, so the
        # regrouped addition is exact and the scores are bit-identical.
        t = (
            und.select(F.col("node").alias("a"), F.col("nbr").alias("i"))
            .join(s, "i")
            .groupBy("a", "j")
            .agg(F.sum("v").alias("tv"))
        )
        step = (
            t.join(
                und.select(F.col("node").alias("b"), F.col("nbr").alias("j")),
                "j",
            )
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("tv").alias("sv"))
            .join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))), "a")
            .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))), "b")
            .select(
                F.col("a").alias("i"),
                F.col("b").alias("j"),
                F.round(
                    F.lit(c) * F.col("sv").cast("double")
                    / (F.col("da") * F.col("db")),
                    6,
                )
                .cast("decimal(18,6)")
                .alias("v"),
            )
        )
        s = step.unionByName(
            nodes.select(
                F.col("node").alias("i"),
                F.col("node").alias("j"),
                one.alias("v"),
            )
        )
    return (
        s.where(F.col("i") < F.col("j"))
        .select(
            F.col("i").alias("a_id"),
            F.col("j").alias("b_id"),
            F.col("v").cast("double").alias("simrank"),
        )
        .orderBy(F.desc("simrank"), "a_id", "b_id")
        .limit(top_k)
    )


def attack_tolerance(
    pairs: DataFrame,
    ks=(0, 5, 20),
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Targeted-attack robustness (Albert, Jeong & Barabási 2000):
    remove the k highest-degree hubs (deg desc, id tie-break) and
    measure fragmentation of the remaining subgraph — scale-free
    graphs shatter under hub removal while staying robust to random
    failure, and the giant-component fraction as k grows is THE
    robustness curve for a co-occurrence graph (how much of the KG's
    connectivity hangs off a handful of hub concepts).

    Isolated survivors count as singleton components (removal can
    orphan a node without deleting it).  Per k: one pushed isin
    filter over the canonical edge list + one connected-components
    run; the per-k scalars (bounded: |ks| rows) assemble driver-side
    with HALF_UP rounding so the fraction matches SQL ROUND.

    Returns (k_removed, n_nodes, n_edges, n_components, largest_cc,
    largest_frac) ordered by k_removed.

    Scale shape: degree + hub ranking is one hash agg + a k-row
    TakeOrdered; each k pays one CC (large-star/small-star, one
    shuffle per round).  |ks| is small by design — this is a
    robustness CURVE, not a sweep over every k."""
    from decimal import Decimal, ROUND_HALF_UP

    from ..operators import canonicalize

    def r6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    und = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ranked_hubs = [
        r["id"]
        for r in deg.orderBy(F.desc("d"), "id").limit(max(ks)).collect()
    ]
    n_all = deg.count()

    def _one_k(k: int):
        # independent driver-synchronized CC runs: submit them from a
        # small thread pool so each run's straggler tail back-fills
        # with the next run's stages (guide §2.6) — the per-k results
        # are assembled identically to the sequential form
        hubs = set(ranked_hubs[:k])
        nodes_k = n_all - len(hubs)
        e = und
        if hubs:
            e = und.where(
                ~F.col("u").isin(sorted(hubs)) & ~F.col("v").isin(sorted(hubs))
            )
        n_edges = e.count()
        if n_edges:
            cc = canonicalize.connected_components(e, src="u", dst="v")
            sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
            st = sizes.agg(
                F.count(F.lit(1)).alias("n_cc"),
                F.max("sz").alias("largest"),
                F.sum("sz").alias("covered"),
            ).collect()[0]
            n_cc, largest, covered = st["n_cc"], st["largest"], st["covered"]
        else:
            n_cc, largest, covered = 0, 0, 0
        singles = nodes_k - covered
        largest = max(largest, 1 if singles > 0 else 0)
        return (
            k,
            nodes_k,
            n_edges,
            n_cc + singles,
            largest,
            r6(largest / nodes_k) if nodes_k else 0.0,
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(3, len(ks))) as ex:
        rows = list(ex.map(_one_k, sorted(ks)))
    return pairs.sparkSession.createDataFrame(
        rows,
        "k_removed int, n_nodes bigint, n_edges bigint, n_components bigint, "
        "largest_cc bigint, largest_frac double",
    )


def property_path(
    triples: DataFrame,
    star_pred: str = "is_a",
    final_pred: str = "part_of",
    max_star: int = 4,
) -> DataFrame:
    """Regular path query (SPARQL property path / Cypher variable-
    length pattern) ``star_pred*/final_pred``: every (src, dst) such
    that src reaches dst through 0..max_star ``star_pred`` hops
    followed by exactly one ``final_pred`` edge — e.g. "which
    categories is this concept PART OF, including through its is_a
    ancestors", the query-expansion primitive a KG retriever runs to
    honor subsumption when following a typed edge.

    Evaluated as the depth-bounded :func:`taxonomy_closure` of the
    star predicate (+ the identity relation for the 0-hop case) piped
    through ONE equi-join with the final predicate's edge set, then a
    MIN(depth) aggregate over converging paths.  No recursion at
    query time, no per-row expansion — the RPQ automaton's two states
    become two relational stages.

    Returns (src_id, dst_id, min_star_hops) ordered by (src, dst).

    Scale shape: the closure is vocab-bound (the taxonomy_closure
    contract); the final join keys on concept ids only."""
    star = (
        triples.where(F.col("predicate") == star_pred)
        .select(
            F.col("subj_id").alias("child_id"),
            F.col("obj_id").alias("parent_id"),
        )
        .where(F.col("child_id") != F.col("parent_id"))
        .distinct()
    )
    clo = taxonomy_closure(star, max_depth=max_star)
    nodes = (
        triples.select(F.col("subj_id").alias("id"))
        .unionByName(triples.select(F.col("obj_id").alias("id")))
        .distinct()
    )
    clo0 = clo.unionByName(
        nodes.select(
            F.col("id").alias("desc_id"),
            F.col("id").alias("anc_id"),
            F.lit(0).cast("int").alias("depth"),
        )
    )
    fin = (
        triples.where(F.col("predicate") == final_pred)
        .select(F.col("subj_id").alias("anc_id"), F.col("obj_id").alias("dst_id"))
        .distinct()
    )
    return (
        clo0.join(fin, "anc_id")
        .groupBy(F.col("desc_id").alias("src_id"), "dst_id")
        .agg(F.min("depth").cast("int").alias("min_star_hops"))
        .orderBy("src_id", "dst_id")
    )


def wu_palmer_similarity(
    isa: DataFrame, max_depth: int = 4, top_k: int = 50
) -> DataFrame:
    """Wu-Palmer taxonomy similarity over the is_a DAG:
    sim(a, b) = 2·d(lcs) / (d(a) + d(b)) with d = topological layer
    (:func:`taxonomy_layers`) + 1 and lcs = the deepest common
    subsumer (ancestor-or-self shared by both, max layer; reported id
    = MIN among ties) — the classic WordNet-style semantic-similarity
    measure, here over the EXTRACTED taxonomy: which concept pairs
    the hierarchy itself considers close, independent of
    co-occurrence (kg_pmi) or neighbourhood shape (kg_simrank).

    Ancestors come from the depth-bounded closure (+self), so the lcs
    is exact whenever max_depth covers the taxonomy (the closure's
    own contract).  Scores are small-integer rationals — one IEEE
    division, ROUND 6, bit-identical cross-engine — ranked
    (score desc, a, b).

    Returns the top_k (a_id, b_id, lca_id, lca_layer, score).

    Scale shape: the ancestor-self-join fans out by Σ_c |desc(c)|² —
    vocab-bound here like simrank; the two-aggregate argmax (max
    layer, then MIN id at that layer) avoids any window over the
    pair relation."""
    # derive + materialize the distinct edge view ONCE: closure and
    # layers each checkpoint their own copy internally, which would
    # re-run the upstream is_a derivation (triples scan + filter +
    # distinct) twice; handing both a checkpointed edge table makes
    # their internal distinct/checkpoint a cheap re-read
    isa = (
        isa.select(
            F.col("child_id").cast("string").alias("child_id"),
            F.col("parent_id").cast("string").alias("parent_id"),
        )
        .where(F.col("child_id") != F.col("parent_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # closure and layers are independent given the checkpointed isa
    # view: run their bounded-round driver loops concurrently so each
    # round's straggler tail back-fills with the other loop's stages
    # (guide §2.6, the node_features pattern); results unchanged
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_clo = ex.submit(taxonomy_closure, isa, max_depth=max_depth)
        f_lay = ex.submit(taxonomy_layers, isa, max_depth=max_depth)
        clo, layers = f_clo.result(), f_lay.result().select("id", "layer")
    nodes = layers.select("id")
    anc = clo.select(
        F.col("desc_id").alias("node"), F.col("anc_id").alias("anc")
    ).unionByName(
        nodes.select(F.col("id").alias("node"), F.col("id").alias("anc"))
    ).distinct()
    # The pair fan-out (Σ_c |desc(c)|² rows — measured 8.4M at sf0.1,
    # the widest relation in the plan) used to carry three 16-char
    # string ids per row into a 6-column aggregate.  Now (guide §2.3,
    # narrower types): dense ORDER-PRESERVING integer codes (rank by
    # id over the vocab-bound node dictionary — the same vocab bound
    # the algorithm already carries), and the (max layer, min anc)
    # argmax packs into ONE bigint `min(k)` with
    # k = (max_depth - layer) · 2^33 + anc_code — lexicographic by
    # construction, hash-aggregable, 24 narrow bytes per fan-out row.
    # Code-min == id-min because codes are rank-ordered, so the
    # decoded (lca_layer, lca_id) is identical.
    wcode = Window.orderBy("id")
    codes = (
        nodes.select("id", F.row_number().over(wcode).cast("bigint").alias("code"))
        .localCheckpoint(eager=True)
    )
    adict = codes.join(layers, "id").select(
        F.col("id").alias("anc"),
        F.col("code").alias("ac"),
        F.col("layer").alias("lc"),
    )
    enc = (
        anc.join(
            F.broadcast(
                codes.select(F.col("id").alias("node"), F.col("code").alias("nc"))
            ),
            "node",
        )
        .join(F.broadcast(adict), "anc")
        .select(
            F.col("nc").alias("n"),
            "ac",
            (
                (F.lit(max_depth) - F.col("lc")) * F.lit(1 << 33) + F.col("ac")
            ).alias("k"),
        )
    )
    # enc is both sides of the pair self-join: one lazy checkpoint
    # keeps the closure/layers subtree from being planned twice — and
    # the encoded relation materializes once
    enc = enc.localCheckpoint(eager=False)
    common = enc.select(F.col("n").alias("a"), "ac", "k").join(
        enc.select(F.col("n").alias("b"), "ac"), "ac"
    ).where(F.col("a") < F.col("b"))
    lca_k = common.groupBy("a", "b").agg(F.min("k").alias("k"))
    dec = lambda cname, alias: F.broadcast(
        codes.select(F.col("code").alias(cname), F.col("id").alias(alias))
    )
    lca = (
        lca_k.select(
            "a",
            "b",
            (F.lit(max_depth) - F.floor(F.col("k") / F.lit(1 << 33)))
            .cast("int")
            .alias("lca_layer"),
            (F.col("k") % F.lit(1 << 33)).alias("_lcac"),
        )
        .join(dec("a", "a_id"), "a")
        .join(dec("b", "b_id"), "b")
        .join(dec("_lcac", "lca_id"), "_lcac")
    )
    la = layers.select(F.col("id").alias("a_id"), F.col("layer").alias("la"))
    lb = layers.select(F.col("id").alias("b_id"), F.col("layer").alias("lb"))
    return (
        lca.join(F.broadcast(la), "a_id")
        .join(F.broadcast(lb), "b_id")
        .select(
            "a_id",
            "b_id",
            "lca_id",
            F.col("lca_layer").cast("int").alias("lca_layer"),
            F.round(
                F.lit(2.0) * (F.col("lca_layer") + 1)
                / ((F.col("la") + 1) + (F.col("lb") + 1)),
                6,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "a_id", "b_id")
        .limit(top_k)
    )


def typed_triangle_census(triples: DataFrame, max_degree: int = 128) -> DataFrame:
    """CLOSED typed-triangle census: for every ordered relation
    triple (r1, r2, r3), how many x -[r1]-> m -[r2]-> y paths are
    CLOSED by a direct x -[r3]-> y edge — :func:`metapath_counts`'
    composition signal upgraded with the consequence edge.  The
    (is_a, is_a, is_a) cell is taxonomy redundancy (skip-level is_a
    assertions); (causes, is_a, causes) is causal
    inheritance; a cell that composes often but NEVER closes is an
    inference opportunity, one that always closes is extractor
    redundancy.

    Same guards as metapath_counts: DISTINCT (s, p, o) edges, mids
    capped at ``max_degree`` (hub-mediated triangles are vacuous and
    quadratic) — note x and y stay uncapped, so the closing join is
    output-bound.  Exact on the capped subgraph.

    -> (rel1, rel2, rel3, n_triangles, n_mids), ordered by the
    relation triple.

    Scale shape: metapath's capped mid self-join (fan-out <= cap^2
    per mid) + ONE (x, y)-keyed equi-join against the distinct edge
    list + a <=|rel|^3-row aggregate."""
    e = triples.select("subj_id", "predicate", "obj_id").distinct()
    deg = (
        e.select(F.col("subj_id").alias("id"))
        .unionAll(e.select(F.col("obj_id").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("_d"))
        .where(F.col("_d") <= max_degree)
        .select("id")
    )
    first = e.select(
        F.col("subj_id").alias("x"),
        F.col("predicate").alias("rel1"),
        F.col("obj_id").alias("mid"),
    ).join(deg.withColumnRenamed("id", "mid"), "mid")
    second = e.select(
        F.col("subj_id").alias("mid"),
        F.col("predicate").alias("rel2"),
        F.col("obj_id").alias("y"),
    )
    closing = e.select(
        F.col("subj_id").alias("x"),
        F.col("predicate").alias("rel3"),
        F.col("obj_id").alias("y"),
    )
    return (
        first.join(second, "mid")
        .where(F.col("x") != F.col("y"))
        .join(closing, ["x", "y"])
        .groupBy("rel1", "rel2", "rel3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triangles"),
            F.count_distinct("mid").cast("long").alias("n_mids"),
        )
        .orderBy("rel1", "rel2", "rel3")
    )


def landmark_distance_eval(
    und: DataFrame,
    n_landmarks: int = 4,
    n_samples: int = 10,
    max_hops: int = 4,
) -> DataFrame:
    """Landmark distance-oracle evaluation (Das Sarma et al. WSDM
    2010): pick L landmarks, precompute hop distances from each, and
    answer d(a, b) as min_l d(a, l) + d(l, b) — the sketch that turns
    web-graph shortest-path queries into two label lookups.  This op
    BUILDS the label table and MEASURES its quality in one pass: the
    md5-ranked draw takes the first ``n_landmarks`` nodes as
    landmarks and the next ``n_samples`` as evaluation endpoints, ONE
    multi-source BFS covers landmarks and samples together (the
    Brandes forward machinery — sources ride as a key column, never
    |S| traversals), exact distances come from the sample sources'
    own rows, and the stretch column est/exact IS the oracle's
    quality: 1.0 = a landmark sits on a shortest path, NULL = no
    common landmark within the hop cap (a coverage gap — add
    landmarks).

    Returns (a_id, b_id, exact_dist, est_dist, stretch) for sample
    pairs reachable within ``max_hops``, ordered (a_id, b_id).

    Scale shape: one hop-bounded multi-source BFS (one join + one
    anti-join per level over (s, v) pairs) + a landmark-keyed label
    self-join bounded by n_landmarks * n_samples rows."""
    nodes = und.select(F.col("cid").alias("id")).distinct()
    ranked = (
        nodes.select("id", F.md5("id").alias("h"))
        .orderBy("h")
        .limit(n_landmarks + n_samples)
        .collect()
    )
    ids = [r["id"] for r in ranked]
    landmarks, samples = ids[:n_landmarks], ids[n_landmarks:]
    if not samples:
        return und.sparkSession.createDataFrame(
            [], "a_id string, b_id string, exact_dist int, est_dist int, stretch double"
        )
    visited = _multi_source_bfs(und, landmarks + samples, max_hops)
    ex = (
        visited.where(
            F.col("s").isin(samples)
            & F.col("v").isin(samples)
            & (F.col("s") < F.col("v"))
        )
        .select(
            F.col("s").alias("a_id"),
            F.col("v").alias("b_id"),
            F.col("d").cast("int").alias("exact_dist"),
        )
    )
    lab = visited.where(
        F.col("s").isin(landmarks) & F.col("v").isin(samples)
    )
    la = lab.select(
        F.col("s").alias("l"), F.col("v").alias("a_id"), F.col("d").alias("d1")
    )
    lb = lab.select(
        F.col("s").alias("l"), F.col("v").alias("b_id"), F.col("d").alias("d2")
    )
    es = (
        la.join(lb, "l")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.min(F.col("d1") + F.col("d2")).cast("int").alias("est_dist"))
    )
    return (
        ex.join(es, ["a_id", "b_id"], "left")
        .select(
            "a_id",
            "b_id",
            "exact_dist",
            "est_dist",
            F.round(
                F.col("est_dist").cast("double") / F.col("exact_dist"), 6
            ).alias("stretch"),
        )
        .orderBy("a_id", "b_id")
    )
