"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The unit tests need no Spark; the smoke tests run each workload once on
the ``--smoke`` inputs (about a minute each on four cores)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus as cg  # noqa: E402
from perfbench import workloads as wl  # noqa: E402


def test_corpus_is_a_function_of_the_seed():
    a, b = cg.Corpus(3, 20, 10), cg.Corpus(3, 20, 10)
    assert a.base == b.base and [a.delta(i) for i in (0, 1)] == [b.delta(i) for i in (0, 1)]
    assert cg.Corpus(4, 20).base != a.base


def test_delta_batches_mix_new_recrawl_and_stale_pages():
    c = cg.Corpus(1, 30, 20)
    urls = {p["url"]: p for p in c.base}
    for batch in (c.delta(0), c.delta(1)):
        kinds = [p["kind"] for p in batch]
        assert kinds.count("new") == 16 and kinds.count("recrawl") == 2
        assert kinds.count("stale") == 2
        for p in batch:
            if p["kind"] == "recrawl":
                old = urls.get(p["url"]) or next(
                    q for d in c.deltas for q in d if q["url"] == p["url"] and q is not p)
                assert old["text"] == p["text"] and p["warc_ts"] > old["warc_ts"]
            if p["kind"] == "stale":
                assert p["warc_ts"] < max(q["warc_ts"] for q in c.base)
        urls.update((p["url"], p) for p in batch if p["kind"] == "new")


def test_vocabulary_surfaces_are_extracted_and_the_graph_grows():
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import purecore

    vocab = set(cg.make_vocabulary(1))
    small, large = cg.Corpus(1, 50), cg.Corpus(1, 400)

    def concepts(pages):
        return {c.surface for p in pages for c in purecore.extract_concepts(p["text"])}

    got = concepts(large.base)
    assert got <= vocab
    assert len(got) > 2 * len(concepts(small.base))


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert wl.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    p, v = wl.tail([float(i) for i in range(1, 101)])
    assert p == 90.0 and v == 90.0 and sum(1 for i in range(1, 101) if i > v) == 10


def test_steal_share_is_the_steal_column_of_the_cpu_tick_delta():
    before = [100, 0, 50, 800, 0, 0, 0, 10, 0, 0]
    after = [160, 0, 70, 810, 0, 0, 0, 20, 0, 0]
    assert wl.steal_share(before, after) == 10 / 100
    assert wl.steal_share(before, before) == 0.0


def test_same_ranking_accepts_near_ties_at_the_cut_only():
    full = [{"conceptId": c, "rank": r, "lemma": c} for c, r in
            (("a", 0.5), ("b", 0.3), ("c", 0.2), ("d", 0.2 - 1e-12), ("e", 0.1))]
    assert wl.same_ranking(full[:3], full, k=3)
    assert wl.same_ranking(full[:2] + [full[3]], full, k=3)
    assert not wl.same_ranking(full[:2] + [full[4]], full, k=3)
    assert not wl.same_ranking(full[:2], full, k=3)
    assert not wl.same_ranking([dict(full[0], lemma="x")] + full[1:3], full, k=3)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["build", "ingest", "refresh", "serve"])
def test_smoke_run_is_correct_and_reports_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    assert {m["name"] for m in bench[key]} <= set(out["metrics"])
    if not trace:
        return
    # each workload's layer profile matches what it is there to load
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "build":
        assert m["functions.extract_s"] > 0 and m["sources.mor_deltas"] == 0
    if workload in ("ingest", "serve"):
        assert m["sources.mor_deltas"] > 0
    if workload == "serve":
        assert m["functions.extract_s"] == 0 and m["sources.write_calls"] == 0
    # the analytics refresh runs on ingest (layer phase) and refresh only
    assert (m["refresh.pagerank_s"] > 0) == (workload in ("ingest", "refresh"))
    # every read kind is measured on build; search and neighbors on the
    # other gated workload and after each refresh batch
    if workload != "serve":
        assert m["serve.search_ms"] > 0 and m["serve.neighbors_ms"] > 0
    if workload == "build":
        assert all(m[f"serve.{k}_ms"] > 0 for k in wl.READS)
