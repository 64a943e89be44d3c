"""Query library (Q1-Q5) and the service's evidence read over a
materialized graph; Q2-Q4 and the evidence read are checked against a
plain-Python replay of the collected nodes/edges tables."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
    httpapi,
    pipeline,
    queries,
)


@pytest.fixture(scope="module")
def g(spark, tmp_path_factory):
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
        ParquetCatalog,
    )

    cat = ParquetCatalog(str(tmp_path_factory.mktemp("qcat")))
    pipeline.run_pipeline(spark, datagen.pages_df(spark, 40), cat, extract_from_html=True)
    return {
        "nodes": cat.read(spark, "nodes"),
        "edges": cat.read(spark, "edges"),
        "mentions": cat.read(spark, "mentions"),
    }


@pytest.fixture(scope="module")
def py(g):
    """The fixture graph as Python rows: nodes by (label, id), all
    edges, and the Concept<->Concept edges in both directions as
    (cid, nbr_id, rel, confidence, evidence)."""
    nodes = [r.asDict() for r in g["nodes"].collect()]
    edges = [r.asDict() for r in g["edges"].collect()]
    concepts = {n["id"]: n for n in nodes if n["label"] == "Concept"}
    chunks = {n["id"]: n for n in nodes if n["label"] == "Chunk"}
    cc = [e for e in edges if e["src_label"] == "Concept" and e["dst_label"] == "Concept"]
    und = [
        (e["src_id"], e["dst_id"], e["rel"], e["confidence"], e["evidence"]) for e in cc
    ] + [(e["dst_id"], e["src_id"], e["rel"], e["confidence"], e["evidence"]) for e in cc]
    degree: dict[str, int] = {}
    for cid, *_ in und:
        degree[cid] = degree.get(cid, 0) + 1
    # the best-connected concept, ties to the smallest id
    hub = min(degree, key=lambda c: (-degree[c], c))
    return {"edges": edges, "concepts": concepts, "chunks": chunks, "und": und, "hub": hub}


def test_q1_metadata(spark, g):
    meta = queries.graph_metadata(g["nodes"], g["edges"])
    assert meta["chunk_count"] == 40
    assert meta["total_nodes"] == meta["concept_count"] + meta["chunk_count"]
    assert meta["relationship_types"]["MENTIONS"] > 0
    hist = queries.edge_type_histogram(g["edges"]).collect()
    assert [r["cnt"] for r in hist] == sorted((r["cnt"] for r in hist), reverse=True)


def _py_search(py, pattern, top_k):
    """search_concepts replayed: substring match on lemma/surface, score
    = undirected concept-edge count, related = sorted distinct
    neighbor lemmas, top-k by (score desc, concept_id)."""
    concepts = py["concepts"]
    out = []
    for cid, c in concepts.items():
        if pattern not in (c["lemma"] or "") and pattern not in (c["surface"] or ""):
            continue
        nbrs = [n for a, n, *_ in py["und"] if a == cid and n in concepts]
        related = sorted({concepts[n]["lemma"] for n in nbrs} - {None})
        out.append((cid, len(nbrs), related))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:top_k]


def test_q2_search_scores_are_degrees(spark, g, py):
    for pattern, top_k in (("spark", 5), ("data", 20), ("a", 20)):
        got = [
            (r["concept_id"], r["score"], list(r["related_lemmas"]))
            for r in queries.search_concepts(
                g["nodes"], g["edges"], pattern, top_k=top_k
            ).collect()
        ]
        assert got == _py_search(py, pattern, top_k), pattern
    assert _py_search(py, "spark", 5), "pattern 'spark' must match the vocabulary"
    assert any(score > 0 for _, score, _ in _py_search(py, "spark", 5))


def test_q3_evidence(spark, g, py):
    """GraphApiService.evidence: the 100 smallest mentioning chunk ids,
    in order, with each chunk node's fields."""
    svc = httpapi.GraphApiService(spark, g["nodes"], g["edges"])
    mentioned: dict[str, set] = {}
    for e in py["edges"]:
        if e["rel"] == "MENTIONS":
            mentioned.setdefault(e["dst_id"], set()).add(e["src_id"])
    top = sorted(mentioned, key=lambda c: (-len(mentioned[c]), c))
    for cid in (top[0], top[-1]):
        want = sorted(mentioned[cid] & set(py["chunks"]))[:100]
        got = svc.evidence(cid)
        assert [c["chunkId"] for c in got["chunks"]] == want
        assert got["totalMentions"] == len(want)
        assert got["lemma"] == py["concepts"][cid]["lemma"]
        for c in got["chunks"]:
            node = py["chunks"][c["chunkId"]]
            assert (c["docId"], c["text"], c["sourceUri"]) == (
                node["doc_id"], node["text"], node["source_uri"]
            )
    assert len(mentioned[top[0]]) > 1
    with pytest.raises(KeyError):
        svc.evidence("no-such-concept")

    some = g["mentions"].limit(1).collect()[0]
    chunks = g["nodes"].where(F.col("label") == "Chunk").select(
        F.col("id").alias("chunk_id"), "text"
    )
    res = queries.chunks_mentioning(g["mentions"], chunks, some["concept_id"]).collect()
    assert 1 <= len(res) <= 100
    assert any(r["chunk_id"] == some["chunk_id"] for r in res)


def test_q4_neighbors_distinct(spark, g, py):
    concepts = py["concepts"]
    for cid in (py["hub"], py["und"][0][0]):
        ring = sorted({n for a, n, *_ in py["und"] if a == cid and n in concepts})
        for top_k in (10, 1000):
            want = [
                (n, concepts[n]["lemma"], concepts[n]["surface"], concepts[n]["origin"])
                for n in ring[:top_k]
            ]
            got = [
                (r["nbr_id"], r["lemma"], r["surface"], r["origin"])
                for r in queries.concept_neighbors(
                    g["nodes"], g["edges"], cid, top_k=top_k
                ).collect()
            ]
            assert got == want
    assert len({n for a, n, *_ in py["und"] if a == py["hub"]}) > 10


def test_q4_two_hop_exact(spark, g, py):
    pairs = {(a, n) for a, n, *_ in py["und"]}

    def ring(cid):
        h1 = {n for a, n in pairs if a == cid}
        h2 = {n for a, n in pairs if a in h1} - {cid} - h1
        return sorted([(1, n) for n in h1] + [(2, n) for n in h2])

    # the hub, and the concept with the widest 2-hop ring
    widest = max(sorted(py["concepts"]), key=lambda c: sum(h == 2 for h, _ in ring(c)))
    assert any(h == 2 for h, _ in ring(widest)), "the fixture must have a 2-hop ring"
    for cid in (py["hub"], widest):
        for top_k in (50, 100_000):
            got = [
                (r["min_hops"], r["nbr_id"])
                for r in queries.concept_neighbors_2hop(
                    g["nodes"], g["edges"], cid, top_k=top_k
                ).collect()
            ]
            assert got == ring(cid)[:top_k]


def test_q4_neighbor_edges_exact(spark, g, py):
    cid = py["hub"]
    rows = [r for r in py["und"] if r[0] == cid]
    keys = sorted((r[1], r[2]) for r in rows)
    for top_k in (20, 100_000):
        got = [
            (r["cid"], r["nbr_id"], r["rel"], r["confidence"], r["evidence"])
            for r in queries.neighbor_edges(g["edges"], cid, top_k=top_k).collect()
        ]
        # ordered by (nbr_id, rel); rows tied on that key (both
        # directions of one relation) may come in either order
        assert [(r[1], r[2]) for r in got] == keys[:top_k]
        assert Counter(got) <= Counter(rows)
    assert Counter(got) == Counter(rows)
    assert len(rows) > 20


def test_q5_grouping(spark, g):
    concepts = g["nodes"].where(F.col("label") == "Concept")
    res = queries.group_results(concepts).collect()
    keys = {r["group_key"] for r in res}
    assert "data" in keys or "graph" in keys  # vocab has data_*/graph_* lemmas
