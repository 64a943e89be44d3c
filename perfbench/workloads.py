"""The ``build``, ``ingest``, ``refresh`` and ``serve`` workloads.

Each workload has a set-up (untimed apart from ``setup_s``), a timed
operation repeated until the run's time is up, and correctness checks
made after the timed region.  A traced run adds a layer phase after the
timed region: calls into the layers the timed op does not reach (the
read endpoints, and on ``ingest`` one analytics refresh), so that every
layer is measured on a workload the regression gate runs.  The
workloads call only the program's public entry points:
``plans.pipeline.run_pipeline``, ``plans.refresh.refresh_after_batch``
and ``plans.httpapi``'s ``GraphApiService`` served by
``serve_background`` on 127.0.0.1.

Every read answer a workload receives is kept and compared, in the
checks, with the same call on a service over a cold copy-on-write
build of the same pages.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import threading
import time
import urllib.parse
from dataclasses import dataclass

from . import corpus as cg

SIZES = {
    # pages per cold build / warm-up build / base graph / delta batch;
    # base pages merged last, as the warm-up of the merge-on-read path;
    # deltas under the live serving graph; closed-loop clients (capped
    # at nproc); chunks in the build check's golden sample
    "full": dict(build_pages=200, warmup_pages=100, base_pages=2000, delta_pages=200,
                 warmup_merge_pages=20, serve_deltas=2, clients=4, check_sample=60),
    "smoke": dict(build_pages=40, warmup_pages=20, base_pages=30, delta_pages=10,
                  warmup_merge_pages=5, serve_deltas=1, clients=2, check_sample=10),
}

# An op measured while other tenants of the machine took more than this
# share of its CPU time (steal, in /proc/stat) is set aside: the gated
# medians use the ops measured without such interference when a run has
# any (perfbench/README.md, "Run budget and noise").
STEAL_MAX = 0.05

READS = ("search", "neighbors", "evidence", "metadata", "local_search", "context_pack")
# serve: share of each read in the request mix (an assumption: lookups
# by name and 1-hop expansion most often, the GraphRAG searches least)
OP_MIX = dict(zip(READS, (0.30, 0.25, 0.15, 0.10, 0.10, 0.10)))


@dataclass
class Op:
    kind: str
    start: float  # epoch seconds
    latency_s: float
    items: int
    ok: bool
    traced: bool = False
    main: bool = True  # the workload's timed op, not a layer-phase call
    steal: float = 0.0  # the machine's steal share while the op ran


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Answer:
    kind: str
    args: tuple
    data: object
    batches: int  # delta batches in the graph when it was read


def cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def http_call(port: int, method: str, path: str, body: dict | None = None):
    """(status, decoded JSON body); http.client talks to 127.0.0.1
    directly, with no proxy lookup."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, json.loads(raw) if raw else None
    finally:
        conn.close()


def _lemma(name: str) -> str:
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
        purecore as pc,
    )

    return pc.normalize_lemma(name)


def _cid(name: str) -> str:
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
        purecore as pc,
    )

    return pc.concept_id(_lemma(name))


def read_args(kind: str, a: str, b: str) -> tuple:
    """Arguments of one read: concept names ``a`` (and ``b`` for local
    search, which links two entities)."""
    return {"metadata": (), "local_search": (a, b)}.get(kind, (a,))


def read_request(kind: str, args: tuple) -> tuple[str, str, dict | None]:
    """HTTP method, path and body of one read."""
    q = urllib.parse.quote
    if kind == "search":
        return "POST", "/v1/query", {"query": _lemma(args[0])}
    if kind == "metadata":
        return "GET", "/v1/metadata", None
    if kind == "neighbors":
        return "GET", f"/v1/graph/concept/{_cid(args[0])}/neighbors", None
    if kind == "evidence":
        return "GET", f"/v1/evidence/{_cid(args[0])}", None
    if kind == "local_search":
        return "GET", f"/v1/search/local?q={q(args[0] + ' and ' + args[1])}", None
    return "GET", f"/v1/search/context?q={q(args[0])}", None


def same_answer(svc, kind: str, args: tuple, got) -> bool:
    """``got`` (an HTTP answer's ``data``) equals the same call made
    in-process on ``svc``."""
    if kind == "local_search":
        # compared against the complete ranking: see same_ranking
        want = json.loads(json.dumps(svc.local_search(args[0] + " and " + args[1], top_k=10**6)))
        return got["linkedEntities"] == want["linkedEntities"] and same_ranking(
            got["results"], want["results"], k=20)
    if kind == "search":
        got, want = got["results"], svc.run_query({"query": _lemma(args[0])}, "check")["results"]
    elif kind == "metadata":
        got, want = dict(got, lastUpdated=None), dict(svc.metadata(), lastUpdated=None)
    elif kind in ("neighbors", "evidence"):
        want = getattr(svc, kind)(_cid(args[0]))
    else:
        want = svc.context_pack(args[0])
    return normalize(got) == normalize(json.loads(json.dumps(want)))


def normalize(x):
    """JSON-comparable form: floats rounded to 9 digits, lists sorted
    (several endpoints break ordering ties by storage order)."""
    if isinstance(x, float):
        return round(x, 9)
    if isinstance(x, dict):
        return {k: normalize(v) for k, v in x.items()}
    if isinstance(x, list):
        return sorted((normalize(v) for v in x), key=lambda v: json.dumps(v, sort_keys=True))
    return x


def same_ranking(got: list[dict], full: list[dict], k: int, tol: float = 1e-9) -> bool:
    """``got`` is a correct top-``k`` cut of the complete ranking ``full``:
    every row is in ``full`` with the same fields, and no row left out
    ranks above the cut.  Ranks summed in another partition order differ
    in the last bits, so a near-tie at the cut may go either way."""
    by_id = {r["conceptId"]: r for r in full}
    if len(got) != min(k, len(full)):
        return False
    for r in got:
        w = by_id.get(r["conceptId"])
        if w is None or not math.isclose(r["rank"], w["rank"], rel_tol=tol, abs_tol=tol):
            return False
        if dict(r, rank=None) != dict(w, rank=None):
            return False
    ids = {r["conceptId"] for r in got}
    cut = min((r["rank"] for r in got), default=0.0)
    return not any(r["rank"] > cut + tol for r in full if r["conceptId"] not in ids)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, sizes: dict, work: str):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.work = work
        self.ops: list[Op] = []
        self.answers: list[Answer] = []
        self.checks: list[Check] = []
        self.tracing = False
        self.batches = 0  # delta batches ingested so far
        self.lock = threading.Lock()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def step(self) -> None:
        """Run timed operations (at least one) and append them to ops."""
        raise NotImplementedError

    def measure(self, seconds: float) -> tuple[float, float]:
        """Repeat the timed op for ``seconds``, and on for up to as long
        again until one op has run without interference (STEAL_MAX)."""
        t0 = time.time()
        first = len(self.ops)
        while True:
            c0, n = cpu_times(), len(self.ops)
            self.step()
            steal = steal_share(c0, cpu_times())
            for op in self.ops[n:]:
                op.steal = steal
            elapsed = time.time() - t0
            quiet = any(o.main and o.steal <= STEAL_MAX for o in self.ops[first:])
            if elapsed >= seconds and (quiet or elapsed >= 2 * seconds):
                return t0, time.time()

    def layer_phase(self) -> None:
        """Traced runs only, after the timed region: calls into the
        layers the timed op does not reach."""

    def check(self) -> None:
        raise NotImplementedError

    def catalog(self):
        """The catalog whose read layout the per-layer metrics report."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    # -- shared helpers ----------------------------------------------------
    def _op(self, kind: str, t0: float, items: int, ok: bool, main: bool = True) -> None:
        with self.lock:
            self.ops.append(Op(kind, t0, time.time() - t0, items, ok, self.tracing, main))

    def _read(self, port: int, kind: str, args: tuple, main: bool = False) -> None:
        """One read over HTTP, timed as an op; its answer is kept for the
        checks."""
        method, path, body = read_request(kind, args)
        t0 = time.time()
        try:
            status, resp = http_call(port, method, path, body)
        except OSError:
            status, resp = 0, None
        self._op(kind, t0, 1, status == 200, main)
        if status == 200:
            with self.lock:
                self.answers.append(Answer(kind, args, resp["data"], self.batches))

    def _hot_names(self, pages: list[dict]) -> list[str]:
        """Vocabulary names that occur in ``pages``, in Zipf-rank order."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
            purecore as pc,
        )

        seen = {c.surface for p in pages for c in pc.extract_concepts(p["text"])}
        return [s for s in self.corpus.vocabulary if s in seen]

    def _read_each(self, cat, kinds: tuple[str, ...]) -> None:
        """One read of each kind, on the hottest concepts, on a service
        over ``cat``'s graph tables."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import httpapi

        a, b = self._hot_names(self.corpus.content(self.batches))[:2]
        server, port = httpapi.serve_background(_service(self.spark, cat))
        try:
            for kind in kinds:
                self._read(port, kind, read_args(kind, a, b))
        finally:
            _stop(server)

    def _check_answers(self, cat, label: str) -> None:
        """Each read answered on the final graph equals the same call on a
        service over ``cat``."""
        svc = _service(self.spark, cat)
        final = [x for x in self.answers if x.batches == self.batches]
        bad = [(x.kind, x.args) for x in final if not same_answer(svc, x.kind, x.args, x.data)]
        if final:
            self.checks.append(Check(f"{label}.answers", not bad,
                                     f"compared={len(final)} mismatched={bad[:5]}"))

    def _cold_build(self, pages: list[dict], tag: str):
        """Cold copy-on-write rebuild over ``pages`` in a fresh catalog."""
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        p = cg.write_pages(pages, self.path(f"{tag}.parquet"))
        cat = ParquetCatalog(self.path(tag))
        pipeline.run_pipeline(self.spark, self.spark.read.parquet(p), cat, extract_from_html=True)
        return cat

    def _same_graph(self, live, cold, label: str) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators.graph import (
            EDGE_KEY,
        )

        for table, keys in (("nodes", ["label", "id"]), ("edges", EDGE_KEY)):
            a, b = (c.read(self.spark, table).select(*keys) for c in (live, cold))
            extra, missing = a.subtract(b).count(), b.subtract(a).count()
            self.checks.append(Check(f"{label}.{table}", extra == missing == 0,
                                     f"extra={extra} missing={missing}"))


def _service(spark, cat, **kw):
    """A ``GraphApiService`` over the graph tables in ``cat``."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import httpapi

    read = lambda t: cat.read(spark, t)  # noqa: E731
    return httpapi.GraphApiService(spark, read("nodes"), read("edges"), read("mentions"), **kw)


def _stop(server) -> None:
    server.shutdown()
    server.server_close()


class Build(Workload):
    """Cold ``run_pipeline(extract_from_html=True)`` into an empty
    catalog.  Layer phase: one read of every kind on the last
    copy-on-write graph."""

    name = "build"

    def setup(self) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        self.corpus = cg.Corpus(self.seed, self.sizes["build_pages"])
        self.pages_path = cg.write_pages(self.corpus.base, self.path("pages.parquet"))
        # warm-up: one throw-away build on another seed's pages, so JIT
        # and Python-worker start-up are not timed
        warm = cg.Corpus(self.seed + 1, self.sizes["warmup_pages"])
        warm_path = cg.write_pages(warm.base, self.path("warmup.parquet"))
        pipeline.run_pipeline(self.spark, self.spark.read.parquet(warm_path),
                              ParquetCatalog(self.path("warmup")), extract_from_html=True)
        self.builds = 0
        self.last_cat = None

    def step(self) -> None:
        import shutil

        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        if self.last_cat is not None:
            shutil.rmtree(self.last_cat.root, ignore_errors=True)
        cat = ParquetCatalog(self.path(f"build{self.builds}"))
        t0 = time.time()
        res = pipeline.run_pipeline(self.spark, self.spark.read.parquet(self.pages_path), cat,
                                    extract_from_html=True)
        self._op("build", t0, res.pages, res.pages == len(self.corpus.base))
        self.builds += 1
        self.last_cat = cat

    def layer_phase(self) -> None:
        self._read_each(self.last_cat, READS)

    def catalog(self):
        return self.last_cat

    def check(self) -> None:
        """Triples on a seeded chunk sample equal the
        ``purecore.score_triples_for_text`` golden exactly.  The graph read
        is itself a cold copy-on-write build, so the read answers are
        compared with the in-process calls on it: what the HTTP layer
        returns is what the service computes."""
        from pyspark.sql import functions as F

        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
            purecore as pc,
        )

        rng = random.Random(self.seed ^ 0x5EED)
        sample = rng.sample(self.corpus.base, min(self.sizes["check_sample"], len(self.corpus.base)))
        golden = set()
        ids = []
        for p in sample:
            cid = pc.chunk_id_for(p["url"], p["text"])
            ids.append(cid)
            for t in pc.score_triples_for_text(p["text"], cid):
                golden.add((t["chunk_id"], t["subj_id"], t["predicate"], t["obj_id"],
                            t["confidence"]))
        rows = (
            self.last_cat.read(self.spark, "triples")
            .where(F.col("chunk_id").isin(ids))
            .select("chunk_id", "subj_id", "predicate", "obj_id", "confidence")
            .collect()
        )
        got = {tuple(r) for r in rows}
        self.checks.append(Check("build.triples_vs_golden", got == golden and len(rows) == len(got),
                                 f"golden={len(golden)} got={len(got)} rows={len(rows)}"))
        self._check_answers(self.last_cat, "build")


class _Incremental(Workload):
    """Delta batches onto a base graph; the check compares the result
    with a cold copy-on-write rebuild."""

    def _delta(self) -> tuple[str, int]:
        """Pages parquet of the next delta batch and the number of its
        pages the incremental gate must admit (the new ones)."""
        i = self.batches
        batch = self.corpus.delta(i)
        self.batches += 1
        return (cg.write_pages(batch, self.path(f"delta{i}.parquet")),
                sum(1 for p in batch if p["kind"] == "new"))

    def catalog(self):
        return self.live

    def check(self) -> None:
        """The incremental graph equals a cold copy-on-write rebuild over
        the base and every ingested delta's pages, and each read answered
        on the final graph equals the same call on the rebuild."""
        cold = self._cold_build(self.corpus.content(self.batches), "cold")
        self._same_graph(self.live, cold, self.name)
        self._check_answers(cold, self.name)


class Ingest(_Incremental):
    """Delta batches through ``run_pipeline(graph_mode="mor")``: the
    graph writes ``POST /v1/refresh`` makes, without its analytics.
    Layer phase: one ``refresh_after_batch`` (the analytics) on the next
    batch, then one search and one neighbors read on the merge-on-read
    graph."""

    name = "ingest"

    def setup(self) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        s = self.sizes
        self.corpus = cg.Corpus(self.seed, s["base_pages"], s["delta_pages"])
        self.live = ParquetCatalog(self.path("live"))
        # the base in two batches: the second is the warm-up, as the first
        # merge into a non-empty graph compiles the merge-on-read path
        k = len(self.corpus.base) - s["warmup_merge_pages"]
        for i, rows in enumerate((self.corpus.base[:k], self.corpus.base[k:])):
            self._run(cg.write_pages(rows, self.path(f"base{i}.parquet")))

    def _run(self, path: str):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline

        return pipeline.run_pipeline(self.spark, self.spark.read.parquet(path), self.live,
                                     extract_from_html=True, graph_mode="mor")

    def step(self) -> None:
        path, expect = self._delta()
        t0 = time.time()
        res = self._run(path)
        self._op("ingest", t0, res.pages, res.pages == expect)

    def layer_phase(self) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import refresh

        path, expect = self._delta()
        t0 = time.time()
        res = refresh.refresh_after_batch(self.spark, self.spark.read.parquet(path), self.live,
                                          extract_from_html=True)
        self._op("refresh", t0, res.pipeline.pages, res.pipeline.pages == expect, main=False)
        # the reads a refresh is there to keep fresh; the other kinds are
        # read on build's copy-on-write graph (each costs seconds here)
        self._read_each(self.live, ("search", "neighbors"))


class _Served(Workload):
    """A workload with one live ``GraphApiService`` behind HTTP."""

    def _serve(self, service) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import httpapi

        self.server, self.port = httpapi.serve_background(service)

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            _stop(server)


class Refresh(_Served, _Incremental):
    """Warm ``POST /v1/refresh`` batches onto a graph the service built,
    each followed by one search and one neighbors read on the freshly
    written state."""

    name = "refresh"

    def setup(self) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import httpapi
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        s = self.sizes
        self.corpus = cg.Corpus(self.seed, s["base_pages"], s["delta_pages"])
        base_path = cg.write_pages(self.corpus.base, self.path("base.parquet"))
        self.live = ParquetCatalog(self.path("live"))
        self._serve(httpapi.GraphApiService(self.spark, None, None, None, catalog=self.live))
        status, body = http_call(self.port, "POST", "/v1/refresh", {"pagesPath": base_path})
        if status != 200:
            raise RuntimeError(f"base refresh failed: {status} {body}")
        self.probe_names = self._hot_names(self.corpus.base)[:2]

    def step(self) -> None:
        path, expect = self._delta()
        t0 = time.time()
        status, body = http_call(self.port, "POST", "/v1/refresh", {"pagesPath": path})
        pages = ((body or {}).get("data") or {}).get("pages", 0)
        self._op("refresh", t0, pages, status == 200 and pages == expect)
        for kind in ("search", "neighbors"):
            self._read(self.port, kind, read_args(kind, *self.probe_names))


class Serve(_Served):
    """Closed-loop HTTP clients over the live merge-on-read graph."""

    name = "serve"

    def setup(self) -> None:
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import pipeline
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
            ParquetCatalog,
        )

        s = self.sizes
        self.corpus = cg.Corpus(self.seed, s["base_pages"], s["delta_pages"])
        self.live = ParquetCatalog(self.path("live"))
        # the graph writes POST /v1/refresh makes (run_pipeline with
        # merge-on-read merges), without the analytics refresh no
        # endpoint in the mix reads: base + K uncompacted deltas
        batches = [self.corpus.base] + [self.corpus.delta(i) for i in range(s["serve_deltas"])]
        for i, rows in enumerate(batches):
            p = cg.write_pages(rows, self.path(f"batch{i}.parquet"))
            pipeline.run_pipeline(self.spark, self.spark.read.parquet(p), self.live,
                                  extract_from_html=True, graph_mode="mor")
        self.batches = s["serve_deltas"]
        self._serve(_service(self.spark, self.live, catalog=self.live))
        self.sampler = cg.ZipfSampler(self._hot_names(self.corpus.content()))
        self.clients = max(1, min(self.sizes["clients"], len(os.sched_getaffinity(0))))
        rng = random.Random(self.seed)
        for kind in READS:  # warm every endpoint once
            http_call(self.port, *read_request(kind, self._args(kind, rng)))

    def _args(self, kind: str, rng: random.Random) -> tuple:
        return read_args(kind, self.sampler.draw(rng), self.sampler.draw(rng))

    def measure(self, seconds: float) -> tuple[float, float]:
        t0 = time.time()
        deadline = t0 + seconds

        def client(i: int) -> None:
            rng = random.Random(self.seed * 1009 + i + (7 if self.tracing else 0))
            kinds, weights = list(OP_MIX), list(OP_MIX.values())
            while time.time() < deadline:
                kind = rng.choices(kinds, weights)[0]
                self._read(self.port, kind, self._args(kind, rng), main=True)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return t0, time.time()

    def catalog(self):
        return self.live

    def check(self) -> None:
        """The graph equals a cold copy-on-write rebuild of the same
        pages, and every answer equals the same call on a service over
        that rebuild."""
        cold = self._cold_build(self.corpus.content(), "cold")
        self._same_graph(self.live, cold, "serve")
        self._check_answers(cold, "serve")


WORKLOADS = {w.name: w for w in (Build, Ingest, Refresh, Serve)}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in [0, 100])."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the maximum (p100) below twenty samples, where
    that percentile would not reach the median."""
    n = len(values)
    if n < 20:
        return 100.0, max(values)
    p = math.floor((n - 10) / n * 100)
    return float(p), percentile(values, p)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
