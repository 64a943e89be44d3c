"""HTTP API surface with the reference's request/response shapes.

The reference serves these over Akka HTTP (api/ApiServer.scala:51-68,
api/routes/*.scala, api/models/ApiModels.scala); here the same JSON
contract is a stdlib ``ThreadingHTTPServer`` over the library's query
functions — no extra dependencies, Spark handles concurrent actions
from handler threads natively.

Endpoints (paths and DTO field names match ApiModels.scala verbatim):

* ``GET  /health``                          -> "OK"            (ApiServer.scala:52-56)
* ``GET  /v1/metadata``                     -> GraphMetadata   (MetadataRoute.scala:22-44)
* ``GET  /v1/evidence/{conceptId}``         -> EvidenceResponse, 404 CONCEPT_NOT_FOUND
                                               (EvidenceRoute.scala:22-53)
* ``GET  /v1/graph/concept/{id}/neighbors`` -> ExploreResponse (ExploreRoute.scala:22-59)
* ``POST /v1/query``                        -> QueryResponse sync (200) or async (202)
                                               with the reference's async predicate
                                               (QueryRoute.scala:37-41)
* ``GET  /v1/jobs/{jobId}``                 -> JobStatus       (JobsRoute.scala:69-90)
* ``GET  /v1/jobs/{jobId}/result``          -> QueryResponse   (JobsRoute.scala:92-130)
* ``GET  /v1/explain/trace/{requestId}``    -> ExecutionTrace — with Catalyst's REAL
                                               plan steps, not the reference's mock
                                               (ExplainRoute.scala:23-54)

Parity-plus (no reference analog — the GraphRAG search surface over
the same graph):

* ``GET /v1/communities[?pattern=&top=]``   -> community index / global search
* ``GET /v1/communities/report``            -> extractive community reports
* ``GET /v1/communities/modularity``        -> partition quality (Newman Q)
* ``GET /v1/search/local?q=``               -> local search: entity-link the query
                                               text, personalized-PageRank expansion,
                                               mention stats per result
* ``GET /v1/search/context?q=[&budget=&top=&per=]`` -> token-budgeted context
  assembly: the prompt rows, in prompt order, with the running budget
* ``GET /v1/search/drift?q=``               -> DRIFT search: global community ranking
                                               picks the winner, PPR re-seeded at its
                                               matched members drills in
* ``GET /v1/graph/features[?top=]``         -> per-node feature matrix (degree,
  coreness, PageRank, community), PageRank-desc capped
* ``POST /v1/refresh`` {pagesPath}          -> incremental batch ingest + warm
  analytics refresh (plans/refresh.py); 409 when the service has no catalog
* ``GET /v1/graph/stats``                   -> one-row structural summary (degrees,
                                               density, triangles, clustering)

Every response is wrapped in ApiResponse {success, data?, error?,
traceId?} (ApiModels.scala:12-23).
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import api as apimod
from . import queries as q


def _now_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


class GraphApiService:
    """Query services over the nodes/edges/mentions tables (the
    Neo4jQueryService analog, backed by Spark instead of Cypher)."""

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame,
        edges: DataFrame,
        mentions: DataFrame | None = None,
        catalog=None,
    ):
        self.spark = spark
        self.nodes = nodes
        self.edges = edges
        self.mentions = mentions
        # optional ParquetCatalog: enables POST /v1/refresh (ingest a
        # page batch incrementally + warm-refresh stored analytics)
        self.catalog = catalog
        self.jobs = apimod.JobRegistry()
        # both keep the newest apimod.MAX_TRACKED entries
        self.job_requests: dict[str, dict] = {}
        self.traces: dict[str, dict] = {}
        self._tracked_lock = threading.Lock()
        self._refresh_lock = threading.Lock()

    def refresh(self, pages_path: str) -> dict:
        """POST /v1/refresh — ingest one page-batch parquet through
        plans.refresh.refresh_after_batch (O(batch) MOR graph merge,
        compaction policy, warm-start PageRank, touched-component
        LPA/CC), swap the service onto the post-batch tables and drop
        the memoized analytics so every endpoint answers from the
        refreshed graph.  The stored
        label table replaces the next _lpa_labels recompute.

        Concurrency (the server is a ThreadingHTTPServer): refreshes
        are serialized by a lock, and the post-batch tables + memo
        resets are swapped in with ONE ``__dict__.update`` so a
        concurrent GET observes either the whole pre-batch state or
        the whole post-batch state, never e.g. new edges with old
        memoized labels.

        Reader GC contract: a commit keeps the data dirs of the
        current and the previous snapshot only, and a refresh can
        compact ``nodes``/``edges`` (catalog.maybe_compact), which
        supersedes their delta dirs.  So a query planned before
        refresh N stays readable through refresh N, but can lose
        delta dirs during refresh N+1 — the same contract Iceberg's
        expire_snapshots gives readers.  Finish (or re-plan) a read
        before the next refresh but one."""
        if self.catalog is None:
            raise ValueError("service started without a catalog")
        from . import refresh as rf

        with self._refresh_lock:
            pages = self.spark.read.parquet(pages_path)
            res = rf.refresh_after_batch(
                self.spark, pages, self.catalog, extract_from_html=True
            )
            new_state = {
                "nodes": self.catalog.read(self.spark, "nodes"),
                "edges": self.catalog.read(self.spark, "edges"),
                "_labels": self.catalog.read(self.spark, rf.LABELS_TABLE),
                "_modularity": None,
                "_gstats": None,
            }
            m = self.catalog.read(self.spark, "mentions")
            if m is not None:
                new_state["mentions"] = m
            # single C-level dict.update: atomic under the GIL (str
            # keys, no Python callbacks), so readers never see a torn
            # mix of old and new tables
            self.__dict__.update(new_state)
        return {
            "snapshotId": res.pipeline.snapshot_id,
            "pages": res.pipeline.pages,
            "mentions": res.pipeline.mentions,
            "triples": res.pipeline.triples,
            "prRows": res.pr_rows,
            "labelRows": res.label_rows,
            "warmStart": res.warm_start,
            "stageMs": res.stage_ms,
        }

    # -- service methods (DTO-shaped dicts) -------------------------------

    def metadata(self) -> dict:
        m = q.graph_metadata(self.nodes, self.edges)
        return {
            "nodeCount": m["total_nodes"],
            "edgeCount": m["total_relationships"],
            "conceptCount": m["concept_count"],
            "chunkCount": m["chunk_count"],
            "relationTypes": m["relationship_types"],
            "lastUpdated": _now_iso(),
        }

    def _concept_row(self, concept_id: str):
        rows = (
            self.nodes.where((F.col("label") == "Concept") & (F.col("id") == concept_id))
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def evidence(self, concept_id: str) -> dict:
        """EvidenceResponse (Neo4jQueryService.scala:126-192)."""
        c = self._concept_row(concept_id)
        if c is None:
            raise KeyError(f"Concept not found: {concept_id}")
        chunk_nodes = self.nodes.where(F.col("label") == "Chunk")
        hits = (
            self.edges.where(
                (F.col("rel") == "MENTIONS") & (F.col("dst_id") == concept_id)
            )
            .select(F.col("src_id").alias("id"))
            .distinct()
        )
        chunks = hits.join(chunk_nodes, "id").orderBy("id").limit(100).collect()
        return {
            "conceptId": concept_id,
            "lemma": c["lemma"],
            "surface": c["surface"],
            "chunks": [
                {
                    "chunkId": r["id"],
                    "docId": r["doc_id"],
                    "text": r["text"],
                    "sourceUri": r["source_uri"],
                    "span": {"start": r["span_start"] or 0, "end": r["span_end"] or 0},
                }
                for r in chunks
            ],
            "totalMentions": len(chunks),
        }

    def neighbors(
        self,
        concept_id: str,
        limit: int = 20,
        depth: int = 1,
        direction: str = "both",
        edge_types: list[str] | None = None,
    ) -> dict:
        """ExploreResponse (Neo4jQueryService.scala:201-295).

        The reference PARSES direction/depth/edgeTypes and ignores them
        (ExploreRoute.scala:25-31); here they are honored: ``direction``
        restricts the edge view (out = src->dst, in = dst->src, both =
        undirected), ``edge_types`` filters relation types, and
        ``depth=2`` returns the 2-hop ring via the library's
        concept_neighbors_2hop (relations listing stays 1-hop, matching
        the reference's response shape)."""
        c = self._concept_row(concept_id)
        if c is None:
            raise KeyError(f"Concept not found: {concept_id}")
        edges = self.edges
        if edge_types:
            edges = edges.where(F.col("rel").isin(list(edge_types)))
        if direction == "out":
            edges = edges.where(F.col("src_id") == concept_id)
        elif direction == "in":
            edges = edges.where(F.col("dst_id") == concept_id)
        if depth >= 2:
            ring = q.concept_neighbors_2hop(
                self.nodes, edges, concept_id, top_k=limit
            ).select("nbr_id")
            concepts = self.nodes.where(F.col("label") == "Concept").select(
                F.col("id").alias("nbr_id"), "lemma", "surface", "origin"
            )
            nbrs = (
                ring.join(concepts, "nbr_id").orderBy("nbr_id").limit(limit).collect()
            )
        else:
            nbrs = q.concept_neighbors(
                self.nodes, edges, concept_id, top_k=limit
            ).collect()
        rels = q.neighbor_edges(edges, concept_id, top_k=limit).collect()

        def node(r, id_key):
            return {
                "conceptId": r[id_key],
                "lemma": r["lemma"],
                "surface": r["surface"],
                "origin": r["origin"],
            }

        return {
            "center": node({"concept_id": concept_id, **{k: c[k] for k in ("lemma", "surface", "origin")}}, "concept_id"),
            "neighbors": [node(r, "nbr_id") for r in nbrs],
            "relations": [
                {
                    "fromConceptId": r["cid"],
                    "toConceptId": r["nbr_id"],
                    "relationType": r["rel"],
                    "confidence": r["confidence"],
                    "evidence": r["evidence"],
                }
                for r in rels
            ],
            "totalNeighbors": len(nbrs),
        }

    def search(self, pattern: str, top_k: int = 20) -> list[dict]:
        """QueryResult list (Neo4jQueryService.scala:304-428)."""
        rows = q.search_concepts(self.nodes, self.edges, pattern, top_k=top_k).collect()
        return [
            {
                "conceptId": r["concept_id"],
                "lemma": r["lemma"],
                "relatedConcepts": list(r["related_lemmas"]),
                "score": float(r["score"]),
            }
            for r in rows
        ]

    # -- communities (parity-plus: no reference analog — the GraphRAG
    # community index/report/global-search surface over the same graph) --

    def _concept_und(self):
        return q.undirected_concept_edges(self.edges).select("cid", "nbr_id")

    def _lpa_labels(self):
        """Labels are a pure function of the edge set — computed once
        per service instance (LPA is iterative; per-request recompute
        would redo 5 shuffle rounds for an identical answer)."""
        if getattr(self, "_labels", None) is None:
            self._labels = q.label_propagation(self._concept_und(), iters=5)
        return self._labels

    def community_modularity(self) -> dict:
        """Newman modularity of the LPA partition — the health score
        of the community index (memoized like the labels: pure
        function of the edge set)."""
        if getattr(self, "_modularity", None) is None:
            row = q.modularity(self._concept_und(), self._lpa_labels()).collect()[0]
            self._modularity = {
                "nCommunities": row["n_communities"],
                "undirectedEdges": row["m"],
                "modularity": row["modularity"],
            }
        return self._modularity

    def communities(self, top_k: int = 20, pattern: str | None = None) -> dict:
        if pattern and self.mentions is None:
            raise KeyError("communities search requires a mentions table")
        labels = self._lpa_labels()
        if pattern:
            rows = q.global_search(
                labels, self.mentions, pattern, top_k=top_k
            ).collect()
            return {
                "pattern": pattern,
                "communities": [
                    {
                        "communityId": r["community"],
                        "memberCount": r["n_members"],
                        "score": r["score"],
                        "matchedConcepts": r["n_matched"],
                        "topLemma": r["top_lemma"],
                    }
                    for r in rows
                ],
            }
        rows = q.community_sizes(labels, top_k=top_k).collect()
        return {
            "communities": [
                {"communityId": r["community"], "memberCount": r["n_members"]}
                for r in rows
            ]
        }

    def graph_changelog(
        self,
        table: str = "nodes",
        v_from: int | None = None,
        v_to: int | None = None,
        limit: int = 100,
    ) -> dict:
        """GET /v1/graph/changelog — row-level CDC between two
        snapshots of a graph table (catalog.snapshot_diff; Iceberg
        create_changelog_view parity): what a batch MERGE actually
        changed, per _change_type image.  Defaults compare the LAST
        commit (v_to = current, v_from = v_to - 1) — the audit
        surface an incremental consumer reads after POST /v1/refresh.
        Counts are exact; row images are capped at ``limit`` with a
        ``truncated`` flag (the full feed is the library call)."""
        if self.catalog is None:
            raise ValueError("service started without a catalog")
        from ..operators.graph import EDGE_KEY

        if table not in ("nodes", "edges"):
            raise KeyError(f"unknown graph table {table!r}")
        keys = ["label", "id"] if table == "nodes" else list(EDGE_KEY)
        cur = self.catalog.current_version(table)
        v_to = cur if v_to is None else v_to
        v_from = max(1, v_to - 1) if v_from is None else v_from
        if v_from < 1 or v_to > cur or v_from > v_to:
            raise KeyError(
                f"snapshot range [{v_from}, {v_to}] outside 1..{cur}"
            )
        diff = self.catalog.snapshot_diff(self.spark, table, v_from, v_to, keys)
        counts = {
            r["_change_type"]: r["n"]
            for r in diff.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        total = sum(counts.values())
        rows = [
            {
                k: (v if isinstance(v, (str, int, float, bool)) or v is None else str(v))
                for k, v in r.asDict().items()
            }
            for r in diff.limit(limit).collect()
        ]
        return {
            "table": table,
            "from": v_from,
            "to": v_to,
            "counts": {
                t: counts.get(t, 0)
                for t in ("insert", "delete", "update_before", "update_after")
            },
            "changes": rows,
            "truncated": total > len(rows),
        }

    def graph_history(self, table: str = "nodes", max_back: int = 10) -> dict:
        """GET /v1/graph/history — per-commit CDC evolution panel
        (catalog.snapshot_history): what each retained snapshot of a
        graph table changed, newest first; expired pairs flagged, not
        failed.  The commit-granular companion of /v1/graph/changelog."""
        if self.catalog is None:
            raise ValueError("service started without a catalog")
        from ..operators.graph import EDGE_KEY

        if table not in ("nodes", "edges"):
            raise KeyError(f"unknown graph table {table!r}")
        keys = ["label", "id"] if table == "nodes" else list(EDGE_KEY)
        return {
            "table": table,
            "history": self.catalog.snapshot_history(
                self.spark, table, keys, max_back=max_back
            ),
        }

    def graph_stats(self) -> dict:
        """One-row structural summary of the concept graph (cached per
        service instance like the LPA labels — it is a pure function
        of the edge set)."""
        if getattr(self, "_gstats", None) is None:
            r = q.graph_stats(self._concept_und()).collect()[0]
            self._gstats = {
                "nodeCount": r["n_nodes"],
                "edgeCount": r["n_edges"],
                "maxDegree": r["max_degree"],
                "avgDegree": r["avg_degree"],
                "density": r["density"],
                "triangleCount": r["n_triangles"],
                "globalClustering": r["global_clustering"],
            }
        return self._gstats

    def local_search(self, query: str, top_k: int = 20) -> dict:
        """GraphRAG local search over the live graph: entity-link the
        raw query text with the engine's OWN extraction rules (the
        same regexes that built the graph — so a query surface links
        iff the corpus surface did), expand with personalized
        PageRank, attach mention statistics."""
        if self.mentions is None:
            raise KeyError("local search requires a mentions table")
        from ..functions.purecore import extract_concepts

        linked = extract_concepts(query)
        if not linked:
            return {"query": query, "linkedEntities": [], "results": []}
        rows = q.local_search(
            self._concept_und(),
            self.mentions,
            terms=[c.lemma for c in linked],
            top_k=top_k,
        ).collect()
        return {
            "query": query,
            "linkedEntities": [
                {"conceptId": c.concept_id, "lemma": c.lemma, "surface": c.surface}
                for c in linked
            ],
            "results": [
                {
                    "conceptId": r["id"],
                    "lemma": r["lemma"],
                    "isSeed": bool(r["is_seed"]),
                    "rank": float(r["rank"]),
                    "mentionCount": r["n_mentions"],
                    "chunkCount": r["n_chunks"],
                }
                for r in rows
            ],
        }

    def graph_features(self, top: int = 50) -> dict:
        """Per-node feature matrix (degree, coreness, PageRank, LPA
        community) over the live concept graph — the node-classifier
        export surfaced for inspection; rows capped at ``top`` by
        PageRank desc for the HTTP payload (the full relation is the
        library/driver surface, queries.node_features)."""
        rows = (
            q.node_features(self._concept_und())
            .orderBy(F.desc("pagerank"), "id")
            .limit(top)
            .collect()
        )
        return {
            "top": top,
            "features": [
                {
                    "conceptId": r["id"],
                    "degree": r["degree"],
                    "coreness": r["coreness"],
                    "pagerank": float(r["pagerank"]),
                    "community": r["community"],
                }
                for r in rows
            ],
        }

    def context_pack(
        self,
        query: str,
        token_budget: int = 150,
        top_entities: int = 10,
        evidence_per_entity: int = 3,
    ) -> dict:
        """Token-budgeted context assembly over the live graph: the
        rows an LLM prompt builder concatenates, in prompt order, with
        the running budget — queries.context_pack over the stored
        Chunk-node text (no page re-scan)."""
        if self.mentions is None:
            raise KeyError("context pack requires a mentions table")
        from ..functions.purecore import extract_concepts

        linked = extract_concepts(query)
        if not linked:
            return {"query": query, "linkedEntities": [], "context": []}
        chunks = self.nodes.where(F.col("label") == "Chunk").select(
            F.col("id").alias("chunk_id"), "text"
        )
        rows = q.context_pack(
            self._concept_und(),
            self.mentions,
            chunks,
            terms=[c.lemma for c in linked],
            token_budget=token_budget,
            top_entities=top_entities,
            evidence_per_entity=evidence_per_entity,
        ).collect()
        return {
            "query": query,
            "tokenBudget": token_budget,
            "linkedEntities": [
                {"conceptId": c.concept_id, "lemma": c.lemma, "surface": c.surface}
                for c in linked
            ],
            "context": [
                {
                    "pos": r["pos"],
                    "conceptId": r["id"],
                    "chunkId": r["chunk_id"],
                    "rank": float(r["rank"]),
                    "tokens": r["n_tokens"],
                    "cumTokens": r["cum_tokens"],
                    "snippet": r["snippet"],
                }
                for r in rows
            ],
        }

    def drift_search(self, query: str, top_k: int = 20) -> dict:
        """GraphRAG DRIFT search over the live graph: entity-link the
        query text, rank communities by the strongest linked lemma
        (global phase), then drill in with PPR re-seeded at the
        winning community's matched members (local phase)."""
        if self.mentions is None:
            raise KeyError("drift search requires a mentions table")
        from ..functions.purecore import extract_concepts

        linked = extract_concepts(query)
        if not linked:
            return {"query": query, "linkedEntities": [], "pattern": None, "results": []}
        pattern = linked[0].lemma
        rows = q.drift_search(
            self._concept_und(),
            self._lpa_labels(),
            self.mentions,
            pattern,
            top_k=top_k,
        ).collect()
        return {
            "query": query,
            "pattern": pattern,
            "linkedEntities": [
                {"conceptId": c.concept_id, "lemma": c.lemma, "surface": c.surface}
                for c in linked
            ],
            "results": [
                {
                    "conceptId": r["id"],
                    "lemma": r["lemma"],
                    "community": r["community"],
                    "isSeed": bool(r["is_seed"]),
                    "rank": float(r["rank"]),
                    "mentionCount": r["n_mentions"],
                }
                for r in rows
            ],
        }

    def community_reports(self, top: int = 10, concepts: int = 5) -> dict:
        if self.mentions is None:
            raise KeyError("community reports require a mentions table")
        rows = q.community_report(
            self._lpa_labels(),
            self.mentions,
            top_communities=top,
            top_concepts=concepts,
        ).collect()
        reports: dict[str, dict] = {}
        for r in rows:
            rep = reports.setdefault(
                r["community"],
                {
                    "communityId": r["community"],
                    "memberCount": r["n_members"],
                    "topConcepts": [],
                },
            )
            rep["topConcepts"].append(
                {
                    "conceptId": r["concept_id"],
                    "lemma": r["lemma"],
                    "mentionCount": r["n_mentions"],
                }
            )
        return {"reports": list(reports.values())}

    # -- query orchestration ----------------------------------------------

    @staticmethod
    def should_use_async(req: dict) -> bool:
        """The reference's async predicate (QueryRoute.scala:37-41)."""
        output = req.get("output") or {}
        constraints = req.get("constraints") or {}
        return bool(
            (output.get("groupBy"))
            or req.get("timeRange") is not None
            or constraints.get("datasets")
            or constraints.get("baselines")
        )

    @staticmethod
    def group_results(results: list[dict], group_by: list[str] | None):
        """QueryRoute.scala:46-66 — group by the lemma's first token."""
        if not group_by or not group_by[0]:
            return None
        key = group_by[0]
        grouped: dict[str, list[dict]] = {}
        for r in results:
            gv = r["lemma"].split("_")[0] or "other"
            grouped.setdefault(gv, []).append(r)
        return [
            {"key": {key: gv}, "items": items} for gv, items in grouped.items()
        ]

    def run_query(self, req: dict, request_id: str) -> dict:
        top_k = (req.get("output") or {}).get("topKPerGroup") or 20
        t0 = time.monotonic()
        results = self.search(req["query"], top_k)
        groups = self.group_results(results, (req.get("output") or {}).get("groupBy"))
        apimod.put_newest(self.traces, request_id, {
            "query": req["query"],
            "n_results": len(results),
            "executionTimeMs": int((time.monotonic() - t0) * 1000),
        }, self._tracked_lock)
        return {
            "mode": "sync",
            "summary": f"Found {len(results)} concepts matching '{req['query']}'",
            "results": results,
            "groups": groups,
            "jobId": None,
            "statusLink": None,
            "evidenceAvailable": bool(results),
            "explainLink": f"/v1/explain/trace/{request_id}",
        }

    def submit_async(self, req: dict, request_id: str) -> dict:
        top_k = (req.get("output") or {}).get("topKPerGroup") or 20
        job_id = self.jobs.submit(
            lambda: q.search_concepts(self.nodes, self.edges, req["query"], top_k=top_k)
        )
        apimod.put_newest(
            self.job_requests, job_id, {"req": req, "request_id": request_id},
            self._tracked_lock,
        )
        return {
            "mode": "async",
            "summary": "Query submitted for asynchronous processing",
            "results": None,
            "groups": None,
            "jobId": job_id,
            "statusLink": f"/v1/jobs/{job_id}",
            "evidenceAvailable": True,
            "explainLink": f"/v1/explain/trace/{request_id}",
        }

    def job_status(self, job_id: str) -> dict | None:
        s = self.jobs.status(job_id)
        if s is None:
            return None
        return {
            "jobId": s.job_id,
            "state": s.state,
            "startedAt": None,
            "finishedAt": None,
            "progress": 100 if s.state in ("SUCCEEDED", "FAILED") else 0,
            "resultLink": f"/v1/jobs/{s.job_id}/result",
            "error": s.error,
        }

    def job_result(self, job_id: str) -> tuple[int, dict]:
        s = self.jobs.status(job_id)
        if s is None:
            return 404, {"code": "NOT_FOUND", "message": f"Job not found: {job_id}"}
        if s.state in ("PENDING", "RUNNING"):
            return 202, {"jobId": job_id, "state": s.state}
        if s.state == "FAILED":
            return 500, {"code": "JOB_FAILED", "message": s.error or "Job failed"}
        meta = self.job_requests.get(job_id, {})
        req = meta.get("req", {"query": ""})
        results = [
            {
                "conceptId": r["concept_id"],
                "lemma": r["lemma"],
                "relatedConcepts": list(r["related_lemmas"]),
                "score": float(r["score"]),
            }
            for r in (s.result or [])
        ]
        groups = self.group_results(results, (req.get("output") or {}).get("groupBy"))
        return 200, {
            "mode": "async",
            "summary": f"Found {len(results)} concepts matching '{req.get('query', '')}'",
            "results": results,
            "groups": groups,
            "jobId": job_id,
            "statusLink": f"/v1/jobs/{job_id}",
            "evidenceAvailable": bool(results),
            "explainLink": f"/v1/explain/trace/{meta.get('request_id', '')}",
        }

    def explain(self, request_id: str) -> dict:
        """ExecutionTrace with Catalyst's REAL plan (ExplainRoute mock
        upgraded; counters from the traced run)."""
        trace = self.traces.get(request_id)
        df = q.search_concepts(self.nodes, self.edges, trace["query"] if trace else "")
        plan = apimod.explain_trace(df)
        return {
            "requestId": request_id,
            "query": trace["query"] if trace else "",
            "plan": [{"step": s, "cypher": None, "detail": None} for s in plan["steps"]],
            "counters": {
                "nodesRead": trace["n_results"] if trace else 0,
                "relationshipsRead": 0,
                "llmCalls": 0,
                "cacheHits": 0,
            },
            "executionTimeMs": trace["executionTimeMs"] if trace else 0,
            "promptVersions": None,
        }


def make_server(service: GraphApiService, host: str = "127.0.0.1", port: int = 0):
    """Build (not start) a ThreadingHTTPServer; caller runs
    ``serve_forever`` in a thread and ``shutdown()`` when done."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silence request logging
            pass

        def _send(self, code: int, payload, wrap: bool = True, error: dict | None = None):
            if wrap:
                body = {
                    "success": error is None,
                    "data": payload,
                    "error": error,
                    "traceId": str(uuid.uuid4()),
                }
            else:
                body = payload
            data = json.dumps(body).encode() if not isinstance(body, str) else body.encode()
            self.send_response(code)
            self.send_header(
                "Content-Type",
                "application/json" if not isinstance(body, str) else "text/plain",
            )
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _error(self, code: int, err_code: str, message: str, details: str | None = None):
            self._send(code, None, error={"code": err_code, "message": message, "details": details})

        def do_GET(self):
            try:
                path = self.path.split("?")[0].rstrip("/")
                qs = {}
                if "?" in self.path:
                    from urllib.parse import parse_qs

                    qs = {k: v[0] for k, v in parse_qs(self.path.split("?", 1)[1]).items()}
                if path == "/health":
                    return self._send(200, "OK", wrap=False)
                if path == "/v1/metadata":
                    return self._send(200, service.metadata())
                if path.startswith("/v1/evidence/"):
                    cid = path[len("/v1/evidence/"):]
                    try:
                        return self._send(200, service.evidence(cid))
                    except KeyError as e:
                        return self._error(404, "CONCEPT_NOT_FOUND", str(e))
                if path.startswith("/v1/graph/concept/") and path.endswith("/neighbors"):
                    cid = path[len("/v1/graph/concept/"):-len("/neighbors")]
                    # ExploreRoute.scala:25-31 parameter surface
                    # (direction/depth/edgeTypes) — parsed there,
                    # ignored there; honored here
                    et = qs.get("edgeTypes")
                    try:
                        return self._send(
                            200,
                            service.neighbors(
                                cid,
                                int(qs.get("limit", "20")),
                                depth=int(qs.get("depth", "1")),
                                direction=qs.get("direction", "both"),
                                edge_types=et.split(",") if et else None,
                            ),
                        )
                    except KeyError as e:
                        return self._error(404, "CONCEPT_NOT_FOUND", str(e))
                if path == "/v1/graph/stats":
                    return self._send(200, service.graph_stats())
                if path == "/v1/graph/history":
                    try:
                        return self._send(
                            200,
                            service.graph_history(
                                table=qs.get("table", "nodes"),
                                max_back=int(qs.get("maxBack", "10")),
                            ),
                        )
                    except KeyError as e:
                        return self._error(404, "SNAPSHOT_NOT_FOUND", str(e))
                    except ValueError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/graph/changelog":
                    try:
                        return self._send(
                            200,
                            service.graph_changelog(
                                table=qs.get("table", "nodes"),
                                v_from=int(qs["from"]) if "from" in qs else None,
                                v_to=int(qs["to"]) if "to" in qs else None,
                                limit=int(qs.get("limit", "100")),
                            ),
                        )
                    except KeyError as e:
                        return self._error(404, "SNAPSHOT_NOT_FOUND", str(e))
                    except ValueError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/graph/features":
                    return self._send(
                        200,
                        service.graph_features(top=int(qs.get("top", "50"))),
                    )
                if path == "/v1/search/local":
                    if not qs.get("q"):
                        return self._error(
                            400, "BAD_REQUEST", "missing required parameter: q"
                        )
                    try:
                        return self._send(
                            200,
                            service.local_search(
                                qs["q"], top_k=int(qs.get("top", "20"))
                            ),
                        )
                    except KeyError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/search/drift":
                    if not qs.get("q"):
                        return self._error(
                            400, "BAD_REQUEST", "missing required parameter: q"
                        )
                    try:
                        return self._send(
                            200,
                            service.drift_search(
                                qs["q"], top_k=int(qs.get("top", "20"))
                            ),
                        )
                    except KeyError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/search/context":
                    if not qs.get("q"):
                        return self._error(
                            400, "BAD_REQUEST", "missing required parameter: q"
                        )
                    try:
                        return self._send(
                            200,
                            service.context_pack(
                                qs["q"],
                                token_budget=int(qs.get("budget", "150")),
                                top_entities=int(qs.get("top", "10")),
                                evidence_per_entity=int(qs.get("per", "3")),
                            ),
                        )
                    except KeyError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/communities/modularity":
                    return self._send(200, service.community_modularity())
                if path == "/v1/communities/report":
                    try:
                        return self._send(
                            200,
                            service.community_reports(
                                top=int(qs.get("top", "10")),
                                concepts=int(qs.get("concepts", "5")),
                            ),
                        )
                    except KeyError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path == "/v1/communities":
                    try:
                        return self._send(
                            200,
                            service.communities(
                                top_k=int(qs.get("top", "20")),
                                pattern=qs.get("pattern"),
                            ),
                        )
                    except KeyError as e:
                        return self._error(400, "BAD_REQUEST", str(e))
                if path.startswith("/v1/jobs/") and path.endswith("/result"):
                    job_id = path[len("/v1/jobs/"):-len("/result")]
                    code, payload = service.job_result(job_id)
                    if code in (200, 202):
                        return self._send(code, payload)
                    return self._error(code, payload["code"], payload["message"])
                if path.startswith("/v1/jobs/"):
                    st = service.job_status(path[len("/v1/jobs/"):])
                    if st is None:
                        return self._error(404, "NOT_FOUND", "Job not found")
                    return self._send(200, st)
                if path.startswith("/v1/explain/trace/"):
                    return self._send(200, service.explain(path[len("/v1/explain/trace/"):]))
                return self._error(404, "NOT_FOUND", f"No route for {path}")
            except Exception as e:  # 500 shape (MetadataRoute.scala:34-41)
                return self._error(500, "INTERNAL_ERROR", str(e), type(e).__name__)

        def do_POST(self):
            try:
                length = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(length) or b"{}")
                path = self.path.rstrip("/")
                if path == "/v1/query":
                    if "query" not in req:
                        return self._error(400, "BAD_REQUEST", "missing 'query'")
                    request_id = f"req-{uuid.uuid4().hex[:8]}"
                    if service.should_use_async(req):
                        return self._send(202, service.submit_async(req, request_id))
                    return self._send(200, service.run_query(req, request_id))
                if path == "/v1/refresh":
                    if "pagesPath" not in req:
                        return self._error(400, "BAD_REQUEST", "missing 'pagesPath'")
                    if service.catalog is None:
                        return self._error(
                            409, "NO_CATALOG",
                            "service was started without a catalog; refresh unavailable",
                        )
                    return self._send(200, service.refresh(req["pagesPath"]))
                return self._error(404, "NOT_FOUND", f"No route for {path}")
            except json.JSONDecodeError as e:
                return self._error(400, "BAD_REQUEST", f"invalid JSON: {e}")
            except Exception as e:
                return self._error(500, "INTERNAL_ERROR", str(e), type(e).__name__)

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(service: GraphApiService, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; returns (server, port)."""
    server = make_server(service, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, server.server_address[1]
