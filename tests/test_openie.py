"""OpenIE pattern-frame extraction + backoff entity linking
(functions/openie.py).

The heart of the suite is the Spark-vs-DuckDB parity fixture: RE2
(DuckDB) has no backtracking, so every greedy-NP edge case must be
pinned to produce the same match set in both engines — these are the
exact strings that make leftmost-first semantics visible.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import openie

TRICKY = [
    "the big data table is a slow structure here",
    "x is a y is a z",  # greedy object swallows the second frame
    "alpha beta gamma delta is an epsilon zeta eta",  # 3-word NP cap
    "a is a b",
    "the query optimizer is part of the execution engine layer",
    "data skew causes slow shuffle performance",
    "spark is also known as the unified engine",
    "x is a is a y",  # injected 'is a' inside the subject NP
    "the the table is a window",  # determiner word inside the NP
    "cache misses lead to slow scans and gc pauses cause stalls",
    "is a b",  # no subject
    "cat is a",  # no object
    "",
    "Mixed CASE Text IS A Thing",  # lowercasing applies first
    "a b c d is a e f g h",  # both NPs at the 3-word cap
    "one is part of two is part of three",  # chained frames
    "x leads to y leads to z",
    "q is also known as r and s is known as t",
]


def _duck_svo(texts):
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    frames = " UNION ALL ".join(
        f"SELECT doc_id AS id, '{p}' AS predicate, unnest(list_zip("
        f"regexp_extract_all(lower(text), '{pat}', 1), "
        f"regexp_extract_all(lower(text), '{pat}', 2))) AS z FROM docs"
        for p, pat in openie.FRAMES
    )
    rows = con.execute(
        f"WITH m AS ({frames}) SELECT id, predicate, z[1], z[2] FROM m"
    ).fetchall()
    con.close()
    return sorted(tuple(r) for r in rows)


class TestFrameParity:
    def test_tricky_fixtures_match_duckdb(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(TRICKY)], "doc_id long, text string"
        )
        got = sorted(tuple(r) for r in openie.svo_extract(df).collect())
        assert got == _duck_svo(TRICKY)
        # sanity: the fixture actually exercises every frame
        assert {r[1] for r in got} == {"IS_A", "PART_OF", "CAUSES", "SYNONYM_OF"}

    def test_greedy_object_is_deterministic(self, spark):
        df = spark.createDataFrame([(0, "x is a y is a z")], "doc_id long, text string")
        rows = openie.svo_extract(df).collect()
        assert [(r.predicate, r.subj, r.obj) for r in rows] == [
            ("IS_A", "x", "y is a")
        ]

    def test_aggregate_counts(self, spark):
        df = spark.createDataFrame(
            [(0, "a cat is a mammal. a cat is a mammal"), (1, "the cat is a mammal")],
            "doc_id long, text string",
        )
        out = openie.svo_aggregate(openie.svo_extract(df)).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.predicate, r.subj, r.obj, r.n_docs, r.n_matches) == (
            "IS_A", "cat", "mammal", 2, 3,
        )


class TestLinkHeads:
    @pytest.fixture()
    def vocab(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
            concept_id,
        )

        lemmas = ["apache_spark", "window", "agg"]
        return spark.createDataFrame(
            [(le, concept_id(le)) for le in lemmas], "lemma string, concept_id string"
        )

    def test_full_then_head_backoff(self, spark, vocab):
        df = spark.createDataFrame(
            [
                (0, "apache spark is a fast window"),  # full + head backoff
                (1, "the shared agg is part of apache spark"),  # head + full
                (2, "mystery thing causes other thing"),  # neither end links
                (3, "window causes mystery thing"),  # only one end links
            ],
            "doc_id long, text string",
        )
        out = openie.link_heads(openie.svo_extract(df), vocab)
        got = {
            (r.id, r.predicate, r.subj_lemma, r.obj_lemma) for r in out.collect()
        }
        assert got == {
            (0, "IS_A", "apache_spark", "window"),
            (1, "PART_OF", "agg", "apache_spark"),
        }
        # concept ids come from the vocab rows, not recomputed
        ids = {r.subj_id for r in out.collect()} | {r.obj_id for r in out.collect()}
        voc_ids = {r.concept_id for r in vocab.collect()}
        assert ids <= voc_ids

    def test_full_match_wins_over_head(self, spark):
        # 'new york' full-lemma resolves to new_york even though the
        # head 'york' is also in the vocabulary with a different id.
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
            concept_id,
        )

        vocab = spark.createDataFrame(
            [(le, concept_id(le)) for le in ["new_york", "york", "window"]],
            "lemma string, concept_id string",
        )
        df = spark.createDataFrame(
            [(0, "new york is a window")], "doc_id long, text string"
        )
        rows = openie.link_heads(openie.svo_extract(df), vocab).collect()
        assert [r.subj_lemma for r in rows] == ["new_york"]

    def test_empty_vocab_yields_empty(self, spark, vocab):
        df = spark.createDataFrame(
            [(0, "apache spark is a fast window")], "doc_id long, text string"
        )
        out = openie.link_heads(openie.svo_extract(df), vocab.limit(0))
        assert out.count() == 0

    def test_bloom_gate_is_transparent(self, spark, vocab, monkeypatch):
        # gated plan == ungated plan (Bloom FPs die in the exact join,
        # no false negatives by construction)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(TRICKY + ["apache spark is a window"])],
            "doc_id long, text string",
        )
        svo = openie.svo_extract(df)
        gated = {tuple(r) for r in openie.link_heads(svo, vocab).collect()}
        import graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators.canonicalize as canon

        monkeypatch.setattr(canon, "bloom_keys_filter", lambda *a, **k: None)
        ungated = {tuple(r) for r in openie.link_heads(svo, vocab).collect()}
        assert gated == ungated and len(gated) > 0


class TestDriverKeys:
    def test_all_frames_fire_at_sf0001(self, spark):
        import __spark_entry__ as e

        out = e.queries()["kg_svo_triples"](spark, e.SF001)
        preds = {r.predicate for r in out.select("predicate").distinct().collect()}
        assert preds == {"IS_A", "PART_OF", "CAUSES", "SYNONYM_OF"}

    def test_linked_nonempty_and_resolved(self, spark):
        import __spark_entry__ as e

        rows = e.queries()["kg_svo_linked"](spark, e.SF001).collect()
        assert len(rows) > 0
        assert all(r.subj_id and r.obj_id for r in rows)
        # the head-backoff entries actually resolve ('fast window' -> window)
        lemmas = {r.subj_lemma for r in rows} | {r.obj_lemma for r in rows}
        assert "window" in lemmas


class TestLemmaExpr:
    def test_matches_purecore_normalize_lemma(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
            normalize_lemma,
        )

        surfaces = [
            "queryPlan", "MapReduce", "Query Engine", "LLM", "Top-K",
            "Alice Smith", "a  b", "_x_", "already_lemma", "Mixed-Case Thing",
            "trailing ", " leading", "123abc", "ABC", "", "---",
        ]
        df = spark.createDataFrame([(s,) for s in surfaces], "s string")
        got = [
            r.le
            for r in df.select(openie.lemma_expr(F.col("s")).alias("le")).collect()
        ]
        assert got == [normalize_lemma(s) for s in surfaces]


class TestPreserveCase:
    def test_camelcase_args_link_via_full_lemma(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
            concept_id,
        )

        vocab = spark.createDataFrame(
            [(le, concept_id(le)) for le in ["query_plan", "map_reduce"]],
            "lemma string, concept_id string",
        )
        df = spark.createDataFrame(
            [(0, "queryPlan is part of MapReduce.")], "chunk_id string, text string"
        )
        svo = openie.svo_extract(df, id_col="chunk_id", preserve_case=True)
        rows = openie.link_heads(svo, vocab).collect()
        assert [(r.predicate, r.subj_lemma, r.obj_lemma) for r in rows] == [
            ("PART_OF", "query_plan", "map_reduce")
        ]

    def test_lowercase_results_unchanged_by_mode(self, spark):
        df = spark.createDataFrame(
            [(0, "the cat is a mammal")], "doc_id long, text string"
        )
        a = [tuple(r) for r in openie.svo_extract(df).collect()]
        b = [tuple(r) for r in openie.svo_extract(df, preserve_case=True).collect()]
        assert a == b


class TestStreamingSvo:
    def test_svo_extract_runs_in_structured_streaming(self, spark, tmp_path):
        # svo_extract is pure Catalyst (regexp frames + one generator),
        # so the same call graph runs unchanged as a streaming
        # transform — triples-from-the-firehose with zero extra code
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        src = str(tmp_path / "pages")
        os.makedirs(src)
        rows = [
            ("0", "queryPlan is part of MapReduce."),
            ("1", "a cat is a mammal. x causes y."),
            ("2", "spark is also known as the engine"),
        ]
        # one FLAT parquet file — the file stream source does not recurse
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows, columns=["chunk_id", "text"])),
            os.path.join(src, "b1.parquet"),
        )
        stream = spark.readStream.schema("chunk_id string, text string").parquet(src)
        emitted = []
        q = (
            openie.svo_extract(stream, id_col="chunk_id")
            .writeStream.foreachBatch(lambda b, _e: emitted.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.exception() is None
        got = {tuple(r) for r in emitted}
        batch = spark.createDataFrame(rows, "chunk_id string, text string")
        want = {tuple(r) for r in openie.svo_extract(batch, id_col="chunk_id").collect()}
        assert got == want and len(want) >= 3
