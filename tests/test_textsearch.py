"""Inverted-index search: boolean AND ranking and BM25 scoring pinned
against hand-computed math on a toy corpus."""

import math

import pytest

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import textsearch

DOCS = [
    ("a", "spark spark spark data"),
    ("b", "spark data data pipelines and data"),
    ("c", "graphs only here"),
    ("d", "data"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    chunks = spark.createDataFrame(DOCS, "chunk_id string, text string")
    return (
        textsearch.build_postings(chunks).cache(),
        textsearch.doc_lengths(chunks).cache(),
    )


def _py_bm25(terms, k1=1.2, b=0.75):
    toks = {cid: text.split() for cid, text in DOCS}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for term in terms:
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for cid, t in toks.items():
            tf = t.count(term)
            if tf:
                dl = len(t)
                scores[cid] = scores.get(cid, 0.0) + idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
    return {cid: round(s, 6) for cid, s in scores.items()}


class TestSearchAllTerms:
    def test_and_semantics_and_tf_ranking(self, spark, corpus):
        postings, _ = corpus
        got = [
            (r["chunk_id"], r["score"])
            for r in textsearch.search_all_terms(postings, ["spark", "data"]).collect()
        ]
        # only a and b contain BOTH; a: 3+1=4, b: 1+3=4 -> tie broken by id
        assert got == [("a", 4), ("b", 4)]


class TestBm25:
    def test_matches_hand_computed(self, spark, corpus):
        postings, doclens = corpus
        expected = _py_bm25(["spark", "data"])
        got = {
            r["chunk_id"]: r["score"]
            for r in textsearch.bm25_search(postings, doclens, ["data", "spark"]).collect()
        }
        assert got.keys() == expected.keys()
        for cid in expected:
            assert abs(got[cid] - expected[cid]) < 1e-6, cid
        # rare term ("pipelines") outweighs common term at equal tf
        exp2 = _py_bm25(["pipelines"])
        got2 = {
            r["chunk_id"]: r["score"]
            for r in textsearch.bm25_search(postings, doclens, ["pipelines"]).collect()
        }
        assert got2.keys() == exp2.keys() == {"b"}

    def test_require_all(self, spark, corpus):
        postings, doclens = corpus
        got = {
            r["chunk_id"]
            for r in textsearch.bm25_search(
                postings, doclens, ["spark", "data"], require_all=True
            ).collect()
        }
        assert got == {"a", "b"}

    def test_unknown_term_is_ignored(self, spark, corpus):
        postings, doclens = corpus
        got = textsearch.bm25_search(postings, doclens, ["zzz"]).collect()
        assert got == []


class TestHybridConceptSearch:
    def test_scores_sum_over_supporting_chunks(self, spark, corpus):
        postings, doclens = corpus
        mentions = spark.createDataFrame(
            [
                ("a", "c_spark"), ("b", "c_spark"),  # supported by a+b
                ("b", "c_data"),                     # b only
                ("c", "c_other"),                    # chunk with no query hit
                ("a", "c_spark"),                    # duplicate mention row
            ],
            "chunk_id string, concept_id string",
        )
        exp_chunks = _py_bm25(["spark", "data"])
        got = {
            r["concept_id"]: (r["text_score"], r["n_chunks"])
            for r in textsearch.hybrid_concept_search(
                postings, doclens, mentions, ["data", "spark"]
            ).collect()
        }
        assert set(got) == {"c_spark", "c_data"}  # c_other has no scored chunk
        assert got["c_data"][1] == 1
        assert got["c_spark"][1] == 2
        assert abs(got["c_spark"][0] - round(exp_chunks["a"] + exp_chunks["b"], 6)) < 1e-5
        assert abs(got["c_data"][0] - exp_chunks["b"]) < 1e-5
