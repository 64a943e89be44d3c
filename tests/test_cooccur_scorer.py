"""R1-R6 distributed semantics vs purecore golden (SURVEY.md §5.1)."""

import pytest

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
    concepts as cf,
)
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import purecore as p
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import cooccur, scorer

TEXTS = [
    "Machine Learning is a Query Engine.",
    "API and REST and LLM work together.",
    "Only API here.",
    "",
    "DataStream and dataStream plus API.",  # same-id pair (synonym case)
    "Apache Spark is part of Data Pipeline.",
    "Batch Job causes Stream Processor.",
    "API and REST and LLM work together.",  # duplicate chunk content, distinct id
]


@pytest.fixture(scope="module")
def enriched(spark):
    rows = [(f"c{i}", t) for i, t in enumerate(TEXTS)]
    df = spark.createDataFrame(rows, "chunk_id string, text string")
    return cf.with_concepts(df).persist()


def golden_pairs():
    out = {}
    for i, t in enumerate(TEXTS):
        cid = f"c{i}"
        out[cid] = {
            (a.concept_id, b.concept_id)
            for a, b, _, _ in p.cooccur_pairs(p.extract_concepts(t), cid)
        }
    return out


def test_pairs_match_golden(spark, enriched):
    pairs = cooccur.candidate_pairs(enriched)
    got = {}
    for r in pairs.collect():
        got.setdefault(r["window_id"], set()).add((r["a"]["concept_id"], r["b"]["concept_id"]))
        assert r["a"]["concept_id"] <= r["b"]["concept_id"]
        assert r["freq"] == 1
    g = golden_pairs()
    for cid, exp in g.items():
        assert got.get(cid, set()) == exp, cid


def test_join_formulation_same_id_pairs(spark, enriched):
    """The join formulation must agree with the array formulation on
    id-projected pairs (including equal-id synonym pairs)."""
    mentions = cf.mentions_from(enriched)
    arr = {
        (r["window_id"], r["a"]["concept_id"], r["b"]["concept_id"])
        for r in cooccur.candidate_pairs(enriched).collect()
    }
    jn = {
        (r["window_id"], r["a"]["concept_id"], r["b"]["concept_id"])
        for r in cooccur.candidate_pairs_join(
            mentions, enriched.select("chunk_id", "evidence")
        ).collect()
    }
    assert arr == jn


def test_pair_frequency_aggregation(spark, enriched):
    pairs = cooccur.candidate_pairs(enriched)
    agg = cooccur.aggregate_pair_frequencies(pairs)
    # chunks c1 and c7 have identical text -> their pairs aggregate to freq 2
    freqs = {(r["a_id"], r["b_id"]): r["freq"] for r in agg.collect()}
    c1_pairs = golden_pairs()["c1"]
    for ab in c1_pairs:
        assert freqs[ab] == 2


def test_pmi_matches_purecore(spark, enriched):
    mentions = cf.mentions_from(enriched)
    pairs = cooccur.candidate_pairs(enriched)
    total = mentions.select("chunk_id").distinct().count()
    pf = cooccur.aggregate_pair_frequencies(pairs)
    cf_ = cooccur.concept_chunk_frequencies(mentions)
    got = {(r["a_id"], r["b_id"]): r["pmi"] for r in cooccur.pmi_scores(pf, cf_, total).collect()}
    cfreq = {r["concept_id"]: r["cfreq"] for r in cf_.collect()}
    pfreq = {(r["a_id"], r["b_id"]): r["freq"] for r in pf.collect()}
    for ab, freq in pfreq.items():
        expected = p.pmi(freq, cfreq[ab[0]], cfreq[ab[1]], total)
        assert abs(got[ab] - expected) < 1e-9, ab


def test_scored_triples_match_golden(spark, enriched):
    got = scorer.triples_from(scorer.score_candidates(cooccur.candidate_pairs(enriched)))
    got_set = {
        (r["subj_id"], r["predicate"], r["obj_id"], r["confidence"], r["evidence"])
        for r in got.collect()
    }
    exp = set()
    for i, t in enumerate(TEXTS):
        for tr in p.score_triples_for_text(t, f"c{i}"):
            exp.add((tr["subj_id"], tr["predicate"], tr["obj_id"], tr["confidence"], tr["evidence"]))
    assert got_set == exp


def test_triple_precision_recall_harness(spark, enriched):
    """The P/R gate itself (BASELINE.json: >=0.95). Exact match ->
    P = R = 1.0 by construction; the harness is the deliverable."""
    got = {
        (r["subj_id"], r["predicate"], r["obj_id"])
        for r in scorer.triples_from(
            scorer.score_candidates(cooccur.candidate_pairs(enriched))
        ).collect()
    }
    golden = set()
    for i, t in enumerate(TEXTS):
        for tr in p.score_triples_for_text(t, f"c{i}"):
            golden.add((tr["subj_id"], tr["predicate"], tr["obj_id"]))
    inter = got & golden
    precision = len(inter) / len(got) if got else 1.0
    recall = len(inter) / len(golden) if golden else 1.0
    assert precision >= 0.95 and recall >= 0.95
    assert len(golden) > 0
