"""HTTP API surface: reference request/response shapes over a live
ThreadingHTTPServer (ApiServer.scala:51-68, QueryRoute.scala:37-139,
ApiModels.scala field names)."""

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark import datagen
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import concepts as cf
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import graph
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import api as apimod
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import httpapi, pipeline
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import ParquetCatalog


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    cat = ParquetCatalog(str(tmp_path_factory.mktemp("api_cat")))
    pages = datagen.pages_df(spark, 40)
    pipeline.run_pipeline(spark, pages, cat, extract_from_html=True)
    svc = httpapi.GraphApiService(
        spark,
        cat.read(spark, "nodes"),
        cat.read(spark, "edges"),
        mentions=cat.read(spark, "mentions"),
    )
    srv, port = httpapi.serve_background(svc)
    yield f"http://127.0.0.1:{port}", svc
    srv.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        body = r.read().decode()
        return r.status, json.loads(body) if body.startswith("{") else body


def _get_raw(base, path):
    req = urllib.request.Request(base + path)
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_health(server):
    base, _ = server
    status, body = _get(base, "/health")
    assert status == 200 and body == "OK"


def test_metadata_shape(server):
    base, _ = server
    status, body = _get(base, "/v1/metadata")
    assert status == 200 and body["success"] is True and body["traceId"]
    data = body["data"]
    assert set(data) == {
        "nodeCount", "edgeCount", "conceptCount", "chunkCount",
        "relationTypes", "lastUpdated",
    }
    assert data["nodeCount"] > 0 and "MENTIONS" in data["relationTypes"]


def test_query_sync_and_explain(server):
    base, _ = server
    status, body = _post(base, "/v1/query", {"query": "page"})
    assert status == 200
    data = body["data"]
    assert data["mode"] == "sync" and data["results"] is not None
    if data["results"]:
        r0 = data["results"][0]
        assert set(r0) == {"conceptId", "lemma", "relatedConcepts", "score"}
    trace_path = data["explainLink"]
    status, body = _get_raw(base, trace_path)
    assert status == 200
    t = body["data"]
    assert t["plan"] and t["counters"]["nodesRead"] == len(data["results"])


def test_query_async_roundtrip(server):
    base, svc = server
    status, body = _post(
        base, "/v1/query",
        {"query": "page", "output": {"groupBy": ["category"], "topKPerGroup": 5}},
    )
    assert status == 202  # the reference's async predicate fires on groupBy
    data = body["data"]
    assert data["mode"] == "async" and data["jobId"]
    job_id = data["jobId"]
    svc.jobs.wait(job_id, timeout=120)
    status, body = _get_raw(base, f"/v1/jobs/{job_id}")
    assert status == 200 and body["data"]["state"] == "SUCCEEDED"
    status, body = _get_raw(base, f"/v1/jobs/{job_id}/result")
    assert status == 200
    res = body["data"]
    assert res["groups"] is not None or res["results"] == []


def test_per_request_maps_keep_newest(server, monkeypatch):
    """traces, job_requests and the job registry keep only the newest
    MAX_TRACKED entries, and the newest request still explains."""
    base, svc = server
    n, k = 2, 2
    monkeypatch.setattr(apimod, "MAX_TRACKED", n)
    links, job_ids = [], []
    for _ in range(n + k):
        _, body = _post(base, "/v1/query", {"query": "page"})
        links.append(body["data"]["explainLink"])
        _, body = _post(base, "/v1/query", {"query": "page", "output": {"groupBy": ["category"]}})
        job_ids.append(body["data"]["jobId"])
        svc.jobs.wait(job_ids[-1], timeout=120)
    assert len(svc.traces) == len(svc.job_requests) == len(svc.jobs._jobs) == n
    status, body = _get_raw(base, links[-1])
    assert status == 200 and body["data"]["requestId"] == links[-1].rsplit("/", 1)[-1]
    assert body["data"]["query"] == "page"
    assert _get_raw(base, f"/v1/jobs/{job_ids[-1]}")[0] == 200
    assert _get_raw(base, f"/v1/jobs/{job_ids[0]}")[0] == 404


def test_evidence_and_neighbors_404(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/evidence/doesnotexist")
    assert status == 404 and body["success"] is False
    assert body["error"]["code"] == "CONCEPT_NOT_FOUND"
    status, body = _get_raw(base, "/v1/graph/concept/doesnotexist/neighbors")
    assert status == 404 and body["error"]["code"] == "CONCEPT_NOT_FOUND"


def test_evidence_and_neighbors_ok(server, spark):
    base, svc = server
    cid = (
        svc.nodes.where(F.col("label") == "Concept").limit(1).collect()[0]["id"]
    )
    status, body = _get_raw(base, f"/v1/evidence/{cid}")
    assert status == 200
    data = body["data"]
    assert data["conceptId"] == cid and isinstance(data["chunks"], list)
    if data["chunks"]:
        assert set(data["chunks"][0]) == {"chunkId", "docId", "text", "sourceUri", "span"}
    status, body = _get_raw(base, f"/v1/graph/concept/{cid}/neighbors?limit=5")
    assert status == 200
    data = body["data"]
    assert data["center"]["conceptId"] == cid
    assert len(data["neighbors"]) == data["totalNeighbors"] <= 5
    for rel in data["relations"]:
        assert set(rel) == {
            "fromConceptId", "toConceptId", "relationType", "confidence", "evidence"
        }


def test_explore_params_honored(server, spark):
    """direction/depth/edgeTypes (ExploreRoute.scala:25-31 parameter
    surface — reference parses-and-ignores; we honor them)."""
    base, svc = server
    # pick a concept that has at least one neighbor
    deg = (
        svc.edges.where((F.col("src_label") == "Concept") & (F.col("dst_label") == "Concept"))
        .groupBy("src_id").count().orderBy(F.desc("count")).limit(1).collect()
    )
    cid = deg[0]["src_id"]
    _, full = _get_raw(base, f"/v1/graph/concept/{cid}/neighbors?limit=50")
    # edgeTypes filter: restricting to a nonexistent type empties the ring
    _, none = _get_raw(
        base, f"/v1/graph/concept/{cid}/neighbors?limit=50&edgeTypes=NOPE"
    )
    assert none["data"]["totalNeighbors"] == 0
    # direction=out is a subset of both
    _, out = _get_raw(
        base, f"/v1/graph/concept/{cid}/neighbors?limit=50&direction=out"
    )
    both_ids = {n["conceptId"] for n in full["data"]["neighbors"]}
    out_ids = {n["conceptId"] for n in out["data"]["neighbors"]}
    assert out_ids <= both_ids
    # depth=2 reaches at least as many concepts as depth=1
    _, two = _get_raw(base, f"/v1/graph/concept/{cid}/neighbors?limit=500&depth=2")
    _, one = _get_raw(base, f"/v1/graph/concept/{cid}/neighbors?limit=500&depth=1")
    assert two["data"]["totalNeighbors"] >= one["data"]["totalNeighbors"]


def test_bad_request(server):
    base, _ = server
    status, body = _post(base, "/v1/query", {"nope": 1})
    assert status == 400 and body["error"]["code"] == "BAD_REQUEST"


def test_communities_index(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/communities?top=5")
    assert status == 200 and body["success"] is True
    comms = body["data"]["communities"]
    assert comms and len(comms) <= 5
    sizes = [c["memberCount"] for c in comms]
    assert sizes == sorted(sizes, reverse=True)
    assert all(c["communityId"] and c["memberCount"] >= 2 for c in comms)


def test_communities_modularity(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/communities/modularity")
    assert status == 200 and body["success"] is True
    d = body["data"]
    assert d["nCommunities"] >= 1 and d["undirectedEdges"] >= 1
    assert -1.0 <= d["modularity"] <= 1.0
    # memoized: identical on repeat
    status2, body2 = _get_raw(base, "/v1/communities/modularity")
    assert status2 == 200 and body2["data"] == d


def test_communities_global_search(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/communities?pattern=data&top=5")
    assert status == 200
    data = body["data"]
    assert data["pattern"] == "data"
    for c in data["communities"]:
        assert c["score"] >= c["matchedConcepts"] >= 1
        assert c["topLemma"]
    scores = [c["score"] for c in data["communities"]]
    assert scores == sorted(scores, reverse=True)


def test_community_reports(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/communities/report?top=3&concepts=2")
    assert status == 200
    reports = body["data"]["reports"]
    assert reports and len(reports) <= 3
    for rep in reports:
        assert 1 <= len(rep["topConcepts"]) <= 2
        counts = [c["mentionCount"] for c in rep["topConcepts"]]
        assert counts == sorted(counts, reverse=True)


def test_communities_without_mentions_is_400(spark):
    svc2 = httpapi.GraphApiService(
        spark,
        spark.createDataFrame([], "label string, id string"),
        spark.createDataFrame(
            [],
            "src_label string, src_id string, rel string, "
            "dst_label string, dst_id string",
        ),
    )
    srv, port = httpapi.serve_background(svc2)
    try:
        status, body = _get_raw(
            f"http://127.0.0.1:{port}", "/v1/communities?pattern=x"
        )
        assert status == 400 and body["error"]["code"] == "BAD_REQUEST"
    finally:
        srv.shutdown()


def test_local_search(server):
    base, _ = server
    status, body = _get_raw(
        base, "/v1/search/local?q=How%20does%20Apache%20Spark%20work&top=10"
    )
    assert status == 200 and body["success"] is True
    data = body["data"]
    linked = data["linkedEntities"]
    assert any(e["lemma"] == "apache_spark" for e in linked)
    assert all(e["conceptId"] and e["surface"] for e in linked)
    results = data["results"]
    assert results and len(results) <= 10
    seeds = [r for r in results if r["isSeed"]]
    assert seeds and all(r["lemma"] for r in results)
    assert all(r["rank"] > 0 and r["mentionCount"] >= 1 for r in results)


def test_local_search_no_link_and_missing_q(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/search/local?q=zzz%20qqq")
    assert status == 200
    assert body["data"]["linkedEntities"] == []
    assert body["data"]["results"] == []
    status, body = _get_raw(base, "/v1/search/local")
    assert status == 400 and body["error"]["code"] == "BAD_REQUEST"


def test_context_pack_route(server):
    base, _ = server
    status, body = _get_raw(
        base, "/v1/search/context?q=How%20does%20Apache%20Spark%20work&budget=60"
    )
    assert status == 200 and body["success"] is True
    data = body["data"]
    assert data["tokenBudget"] == 60
    assert any(e["lemma"] == "apache_spark" for e in data["linkedEntities"])
    ctx = data["context"]
    assert ctx, "budget 60 should admit at least one snippet"
    cum = 0
    for i, row in enumerate(ctx, 1):
        assert row["pos"] == i
        cum += row["tokens"]
        assert row["cumTokens"] == cum and cum <= 60
        assert row["snippet"] and row["conceptId"] and row["chunkId"]
    # missing q -> 400
    status, body = _get_raw(base, "/v1/search/context")
    assert status == 400 and body["error"]["code"] == "BAD_REQUEST"
    # unlinkable query -> empty context
    status, body = _get_raw(base, "/v1/search/context?q=zzz%20qqq")
    assert status == 200 and body["data"]["context"] == []


def test_graph_features_route(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/graph/features?top=5")
    assert status == 200 and body["success"] is True
    feats = body["data"]["features"]
    assert feats and len(feats) <= 5
    # PageRank-desc ordering and well-formed rows
    pr = [f["pagerank"] for f in feats]
    assert pr == sorted(pr, reverse=True)
    for f in feats:
        assert f["conceptId"] and f["degree"] >= 1
        assert 1 <= f["coreness"] <= f["degree"]
        assert f["community"]


def test_graph_stats(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/graph/stats")
    assert status == 200 and body["success"] is True
    d = body["data"]
    assert d["nodeCount"] > 0 and d["edgeCount"] > 0
    assert d["maxDegree"] >= 1 and 0.0 <= d["density"] <= 1.0
    assert d["triangleCount"] >= 0 and 0.0 <= d["globalClustering"] <= 1.0
    # cached: second call returns the identical payload
    _, body2 = _get_raw(base, "/v1/graph/stats")
    assert body2["data"] == d


def test_drift_search(server):
    base, _ = server
    status, body = _get_raw(
        base, "/v1/search/drift?q=Apache%20Spark&top=10"
    )
    assert status == 200 and body["success"] is True
    data = body["data"]
    assert data["pattern"] == "apache_spark"
    results = data["results"]
    assert results and len(results) <= 10
    # every result carries its community and the seeds are flagged
    assert all(r["community"] for r in results)
    assert any(r["isSeed"] for r in results)
    assert all(r["rank"] > 0 for r in results)


def test_drift_search_no_link_and_missing_q(server):
    base, _ = server
    status, body = _get_raw(base, "/v1/search/drift?q=zzz%20qqq")
    assert status == 200
    assert body["data"]["results"] == [] and body["data"]["pattern"] is None
    status, body = _get_raw(base, "/v1/search/drift")
    assert status == 400 and body["error"]["code"] == "BAD_REQUEST"


class TestRefreshEndpoint:
    def test_post_refresh_ingests_and_swaps_tables(
        self, spark, tmp_path_factory
    ):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import (
            refresh as rf,
        )

        root = tmp_path_factory.mktemp("api_refresh")
        pages = datagen.pages_df(spark, 60)
        cutoff = (
            pages.select(F.col("warc_ts").cast("long").alias("t"))
            .orderBy("t")
            .collect()[39]["t"]
        )
        cat = ParquetCatalog(str(root / "cat"))
        rf.refresh_after_batch(
            spark,
            pages.where(F.col("warc_ts").cast("long") <= cutoff),
            cat,
            extract_from_html=True,
        )
        batch2_path = str(root / "batch2")
        pages.where(F.col("warc_ts").cast("long") > cutoff).write.parquet(
            batch2_path
        )
        svc = httpapi.GraphApiService(
            spark,
            cat.read(spark, "nodes"),
            cat.read(spark, "edges"),
            mentions=cat.read(spark, "mentions"),
            catalog=cat,
        )
        srv, port = httpapi.serve_background(svc)
        base = f"http://127.0.0.1:{port}"
        try:
            before = _get(base, "/v1/metadata")[1]["data"]["chunkCount"]
            code, body = _post(base, "/v1/refresh", {"pagesPath": batch2_path})
            assert code == 200, body
            d = body["data"]
            assert d["pages"] == 20 and d["warmStart"] is True
            assert d["prRows"] > 0 and d["labelRows"] > 0
            # the service now answers from the post-batch graph
            after = _get(base, "/v1/metadata")[1]["data"]["chunkCount"]
            assert after == before + 20 == 60
            # memoized analytics were swapped to the stored table
            code, comm = _get_raw(base, "/v1/communities")
            assert code == 200
            # missing body field -> 400
            assert _post(base, "/v1/refresh", {})[0] == 400
        finally:
            srv.shutdown()

    def test_post_refresh_without_catalog_is_409(self, server):
        base, _ = server
        code, body = _post(base, "/v1/refresh", {"pagesPath": "/nope"})
        assert code == 409
        assert body["error"]["code"] == "NO_CATALOG"


class TestChangelogEndpoint:
    """GET /v1/graph/changelog — snapshot_diff CDC images over the
    graph tables (create_changelog_view parity at the API surface)."""

    def test_graph_changelog_images_and_counts(self, spark, tmp_path_factory):
        import datetime

        root = tmp_path_factory.mktemp("api_changelog")
        cat = ParquetCatalog(str(root / "cat"))
        n1 = spark.createDataFrame(
            [("Concept", "c1", "alice"), ("Concept", "c2", "bob")],
            "label string, id string, name string",
        )
        cat.merge_upsert(spark, "nodes", n1, keys=["label", "id"])
        n2 = spark.createDataFrame(
            [("Concept", "c2", "bobby"), ("Concept", "c3", "carol")],
            "label string, id string, name string",
        )
        cat.merge_upsert(spark, "nodes", n2, keys=["label", "id"])
        ts = datetime.datetime(2026, 1, 1)
        e1 = spark.createDataFrame(
            [("Concept", "c1", "RELATED_TO", "Concept", "c2", 0.7, ts)],
            "src_label string, src_id string, rel string, dst_label string,"
            " dst_id string, confidence double, updated_at timestamp",
        )
        cat.merge_upsert(
            spark, "edges", e1,
            keys=["src_label", "src_id", "rel", "dst_label", "dst_id"],
        )
        e2 = e1.withColumn("confidence", F.lit(0.9))
        cat.merge_upsert(
            spark, "edges", e2,
            keys=["src_label", "src_id", "rel", "dst_label", "dst_id"],
        )
        svc = httpapi.GraphApiService(
            spark, cat.read(spark, "nodes"), cat.read(spark, "edges"),
            catalog=cat,
        )
        srv, port = httpapi.serve_background(svc)
        base = f"http://127.0.0.1:{port}"
        try:
            # default = the last commit (from=1, to=2 here)
            code, body = _get_raw(base, "/v1/graph/changelog")
            assert code == 200, body
            d = body["data"]
            assert (d["table"], d["from"], d["to"]) == ("nodes", 1, 2)
            assert d["counts"] == {
                "insert": 1, "delete": 0,
                "update_before": 1, "update_after": 1,
            }
            by = {(c["_change_type"], c["id"]): c for c in d["changes"]}
            assert by[("insert", "c3")]["name"] == "carol"
            assert by[("update_before", "c2")]["name"] == "bob"
            assert by[("update_after", "c2")]["name"] == "bobby"
            assert d["truncated"] is False
            # edges: timestamp column must arrive JSON-stringified
            code, eb = _get_raw(base, "/v1/graph/changelog?table=edges")
            assert code == 200
            ed = eb["data"]
            assert ed["counts"]["update_after"] == 1
            assert all(isinstance(c["updated_at"], str) for c in ed["changes"])
            # limit + truncated flag
            code, lb = _get_raw(base, "/v1/graph/changelog?limit=1")
            assert code == 200 and len(lb["data"]["changes"]) == 1
            assert lb["data"]["truncated"] is True
            # out-of-range and unknown table -> 404
            assert _get_raw(base, "/v1/graph/changelog?from=5&to=9")[0] == 404
            assert _get_raw(base, "/v1/graph/changelog?table=zzz")[0] == 404
            # per-commit evolution panel over the same catalog
            code, hb = _get_raw(base, "/v1/graph/history")
            assert code == 200
            hist = hb["data"]["history"]
            assert [h["version"] for h in hist] == [2, 1]
            assert hist[0] == {
                "version": 2, "insert": 1, "delete": 0, "update": 1,
            }
            assert hist[1] == {
                "version": 1, "insert": 2, "delete": 0, "update": 0,
            }
            assert _get_raw(base, "/v1/graph/history?table=zzz")[0] == 404
        finally:
            srv.shutdown()

    def test_changelog_without_catalog_is_400(self, server):
        base, _ = server
        assert _get_raw(base, "/v1/graph/changelog")[0] == 400
        assert _get_raw(base, "/v1/graph/history")[0] == 400
