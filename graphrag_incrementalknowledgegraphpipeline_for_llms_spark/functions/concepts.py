"""Concept extraction as vectorized Spark stages (T1-T3 of SURVEY.md §2.3).

The extraction semantics live in :mod:`.purecore` (pinned to
ConceptExtractor.scala:46-148); this module wraps them as an
Arrow-batched pandas UDF returning ``array<struct<...>>`` so one pass
over the chunk text yields the deduped, first-seen-ordered concept list
per chunk.  Everything downstream (mentions explode, pair generation)
is pure Catalyst — the reference re-ran extraction twice per chunk
(GraphRagJob.scala:288,307); we extract once and reuse the column.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import purecore

CONCEPT_STRUCT = T.StructType(
    [
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("lemma", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("origin", T.StringType(), False),
    ]
)
CONCEPT_ARRAY = T.ArrayType(CONCEPT_STRUCT, containsNull=False)


@F.pandas_udf(CONCEPT_ARRAY)
def extract_concepts_udf(texts: pd.Series) -> pd.Series:
    """T1 heuristic extraction, one Arrow batch at a time."""
    return texts.map(
        lambda t: [c._asdict() for c in purecore.extract_concepts(t)] if t else []
    )


@F.pandas_udf(CONCEPT_ARRAY)
def extract_concepts_nlp_udf(texts: pd.Series) -> pd.Series:
    """T4 NLP extraction (ConceptExtractor.scala:157-256): deterministic
    NER/POS tagger stand-in + the reference's entity-merge / noun-gate /
    heuristic-union / fallback semantics (purecore.extract_concepts_nlp)."""
    return texts.map(
        lambda t: [c._asdict() for c in purecore.extract_concepts_nlp(t)] if t else []
    )


def utf16_take_udf(n: int):
    """JVM-`take(n)` evidence truncation (GraphRagJob.scala:318) as a
    pandas UDF — UTF-16 code units, not codepoints, so astral-plane
    chars count as 2 like on the JVM."""

    @F.pandas_udf(T.StringType())
    def _take(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: purecore.utf16_take(t, n) if t is not None else None)

    return _take


ENRICH_STRUCT = T.StructType(
    [
        T.StructField("concepts", CONCEPT_ARRAY, False),
        T.StructField("evidence", T.StringType(), True),
        T.StructField("evidence100", T.StringType(), True),
    ]
)


def _make_enrich_udf(extractor):
    @F.pandas_udf(ENRICH_STRUCT)
    def _enrich(texts: pd.Series) -> pd.DataFrame:
        concepts, ev, ev100 = [], [], []
        for t in texts:
            if not t:
                concepts.append([])
                ev.append("" if t == "" else None)
                ev100.append("" if t == "" else None)
                continue
            concepts.append([c._asdict() for c in extractor(t)])
            e = purecore.utf16_take(t, purecore.EVIDENCE_LIMIT)
            ev.append(e)
            ev100.append(purecore.utf16_take(e, purecore.FALLBACK_EVIDENCE_LIMIT))
        return pd.DataFrame({"concepts": concepts, "evidence": ev, "evidence100": ev100})

    return _enrich


_enrich_udf = _make_enrich_udf(purecore.extract_concepts)
_enrich_nlp_udf = _make_enrich_udf(purecore.extract_concepts_nlp)


HTML_ENRICH_STRUCT = T.StructType(
    [T.StructField("text", T.StringType(), True)] + list(ENRICH_STRUCT.fields)
)


def _make_html_enrich_udf(extractor):
    """html->text + concept extraction FUSED into one Arrow pass: the
    chained-UDF plan (an html->text UDF, then _enrich_udf) pays two
    JVM<->Python round trips per batch with the full text payload on
    the wire both times; fusing halves that and keeps one Python worker
    per task instead of two."""

    @F.pandas_udf(HTML_ENRICH_STRUCT)
    def _enrich(htmls: pd.Series) -> pd.DataFrame:
        texts, concepts, ev, ev100 = [], [], [], []
        for b in htmls:
            t = purecore.extract_text(bytes(b)) if b is not None else None
            texts.append(t)
            if not t:
                concepts.append([])
                ev.append("" if t == "" else None)
                ev100.append("" if t == "" else None)
                continue
            concepts.append([c._asdict() for c in extractor(t)])
            e = purecore.utf16_take(t, purecore.EVIDENCE_LIMIT)
            ev.append(e)
            ev100.append(purecore.utf16_take(e, purecore.FALLBACK_EVIDENCE_LIMIT))
        return pd.DataFrame(
            {"text": texts, "concepts": concepts, "evidence": ev, "evidence100": ev100}
        )

    return _enrich


_html_enrich_udf = _make_html_enrich_udf(purecore.extract_concepts)
_html_enrich_nlp_udf = _make_html_enrich_udf(purecore.extract_concepts_nlp)


def _resolve_enrich_udf(strategy: str, html: bool):
    """Strategy -> fused enrich UDF.  ``"nlp_spacy"`` (optional,
    model-backed T4 — functions/nlp_model.py) is resolved lazily so
    importing this module never imports spaCy; it raises a clear
    ImportError when the dependency is absent."""
    table = (
        {"heuristic": _html_enrich_udf, "nlp": _html_enrich_nlp_udf}
        if html
        else {"heuristic": _enrich_udf, "nlp": _enrich_nlp_udf}
    )
    if strategy in table:
        return table[strategy]
    if strategy == "nlp_spacy":
        from . import nlp_model

        if not nlp_model.SPACY_AVAILABLE:
            raise ImportError(
                "strategy='nlp_spacy' requires spaCy (not installed); "
                "use strategy='nlp' for the deterministic tagger"
            )
        maker = _make_html_enrich_udf if html else _make_enrich_udf
        return maker(nlp_model.spacy_extractor())
    raise KeyError(strategy)


def enrich_pages_from_html(
    pages: DataFrame, html_col: str = "html", strategy: str = "heuristic"
) -> DataFrame:
    """One fused Arrow pass over raw pages: html -> text -> concepts /
    evidence / evidence100.  Returns pages with ``text``, ``concepts``,
    ``evidence``, ``evidence100`` columns added (html dropped)."""
    udf = _resolve_enrich_udf(strategy, html=True)
    return (
        pages.withColumn("_e", udf(F.col(html_col)))
        .drop(html_col)
        .withColumn("text", F.col("_e.text"))
        .withColumn("concepts", F.col("_e.concepts"))
        .withColumn("evidence", F.col("_e.evidence"))
        .withColumn("evidence100", F.col("_e.evidence100"))
        .drop("_e")
    )


def with_concepts(
    chunks: DataFrame, text_col: str = "text", strategy: str = "heuristic"
) -> DataFrame:
    """Add ``concepts`` (deduped array), ``evidence`` (text take 500,
    GraphRagJob.scala:318) and ``evidence100`` (take 100, the scorer
    fallback truncation, RelationScorer.scala:142) in ONE Arrow pass —
    a single Python stage per partition; everything downstream is
    JVM-only.

    ``strategy`` mirrors the reference's concept.strategies config
    (application.conf:67-71): ``"heuristic"`` (default, like the
    reference's default-on heuristic pass) or ``"nlp"`` (T4,
    ConceptExtractor.scala:157-256 semantics)."""
    udf = _resolve_enrich_udf(strategy, html=False)
    return (
        chunks.withColumn("_e", udf(F.col(text_col)))
        .withColumn("concepts", F.col("_e.concepts"))
        .withColumn("evidence", F.col("_e.evidence"))
        .withColumn("evidence100", F.col("_e.evidence100"))
        .drop("_e")
    )


def mentions_from(chunks_with_concepts: DataFrame) -> DataFrame:
    """Explode to the ``mentions`` table: (chunk_id, concept_id, lemma,
    surface, origin) — the reference's `Mentions` stream
    (GraphRagJob.scala:76-79) as a flat columnar table."""
    return chunks_with_concepts.select(
        "chunk_id", F.explode("concepts").alias("c")
    ).select(
        "chunk_id",
        F.col("c.concept_id").alias("concept_id"),
        F.col("c.lemma").alias("lemma"),
        F.col("c.surface").alias("surface"),
        F.col("c.origin").alias("origin"),
    )


def normalize_lemma_col(col: Column) -> Column:
    """T2 lemma normalization as a pure Catalyst expression chain —
    exactly ConceptExtractor.scala:128-138, zero Python."""
    c = F.regexp_replace(col, r"([a-z])([A-Z])", r"$1_$2")
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9_]", "_")
    c = F.regexp_replace(c, r"_+", "_")
    return F.regexp_replace(c, r"^_|_$", "")


def concept_id_col(lemma: Column) -> Column:
    """T3 concept-id — hex(sha256(lemma))[:16], pure Spark SQL
    (ConceptExtractor.scala:144-148)."""
    return F.substring(F.sha2(lemma, 256), 1, 16)
