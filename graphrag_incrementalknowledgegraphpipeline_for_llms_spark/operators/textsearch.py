"""Inverted-index full-text search over chunk text.

The reference's concept search (Q2) matches exact ids; real GraphRAG
retrieval needs term search over chunk text.  Grep-per-query doesn't
scale — a 100 TB corpus scan per query is absurd — so the standard
shape: build a posting table ONCE (term -> chunk), store it in the
catalog (bucketable by term), and answer queries with a term-key
equi-join.

* build_postings — explode tokenized text to (term, chunk_id, tf)
  with one shuffle on (term, chunk_id) for the tf count.  At corpus
  scale, bucket the stored table by term: a query then prunes to the
  buckets of its terms.
* search_all_terms — AND semantics: chunks containing EVERY query
  term, ranked by summed tf.  The query's terms are a literal IN
  filter (partition/bucket-prunable); candidate postings group by
  chunk and keep groups with all terms present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TOKEN_RE = r"[^a-z0-9]+"


def tokenize(col) -> "F.Column":
    """Lowercased alphanumeric tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(col), _TOKEN_RE), lambda t: F.length(t) > 0
    )


def build_postings(
    chunks: DataFrame, text_col: str = "text", id_col: str = "chunk_id"
) -> DataFrame:
    """(term, chunk_id, tf) posting table."""
    return (
        chunks.select(
            F.col(id_col).alias("chunk_id"),
            F.explode(tokenize(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "chunk_id")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(
    chunks: DataFrame, text_col: str = "text", id_col: str = "chunk_id"
) -> DataFrame:
    """(chunk_id, dl) — token count per chunk, the BM25 length norm.
    Build it once next to the postings (same tokenize pass shape)."""
    return chunks.select(
        F.col(id_col).alias("chunk_id"),
        F.size(tokenize(F.col(text_col))).alias("dl"),
    )


def _bm25_scores(
    postings: DataFrame,
    doclens: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
) -> DataFrame:
    """(chunk_id, score double, _nt) — unrounded BM25 per matching
    chunk; the shared core of bm25_search and hybrid_concept_search."""
    terms = sorted({t.lower() for t in terms})
    stats = doclens.agg(
        F.count("*").alias("n"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    ).collect()[0]
    n, avgdl = float(stats["n"]), float(stats["avgdl"] or 0.0)
    hits = postings.where(F.col("term").isin(terms))
    # one row per (term, chunk) -> count(*) IS the document frequency
    dfreq = hits.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    j = hits.join(F.broadcast(dfreq), "term").join(doclens, "chunk_id")
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    return (
        j.select("chunk_id", "term", (idf * tf_part).alias("s"))
        .groupBy("chunk_id")
        .agg(F.sum("s").alias("score"), F.count_distinct("term").alias("_nt"))
    )


def bm25_search(
    postings: DataFrame,
    doclens: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 20,
    require_all: bool = False,
) -> DataFrame:
    """BM25-ranked chunks for ``terms`` (OR semantics by default;
    ``require_all`` for AND).  Lucene-style idf
    ln(1 + (N - df + 0.5)/(df + 0.5)) with the standard tf saturation
    and length normalization.

    Scale shape: the corpus-wide scalars (N, avgdl) are ONE tiny
    aggregate collected to the driver and embedded as plan literals;
    everything else is the same literal-IN prune + term-key joins as
    :func:`search_all_terms` — only the queried terms' postings move,
    df comes from a per-term count over those postings (broadcast
    back), and the doc-length join keys on chunk_id.  No corpus scan
    at query time."""
    agg = _bm25_scores(postings, doclens, terms, k1, b)
    if require_all:
        agg = agg.where(F.col("_nt") == len({t.lower() for t in terms}))
    return (
        agg.select("chunk_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), "chunk_id")
        .limit(limit)
    )


def hybrid_concept_search(
    postings: DataFrame,
    doclens: DataFrame,
    mentions: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 20,
) -> DataFrame:
    """GraphRAG hybrid retrieval: BM25 text relevance propagated onto
    the concept graph.  Each chunk's (unrounded) BM25 score flows to
    every concept it mentions; a concept's text_score is the sum over
    its supporting chunks, n_chunks the support count.  This is the
    entry point a RAG stack actually wants — "which graph entities
    does this query light up" — and it composes two already-bounded
    shapes: the literal-term posting prune and a mentions equi-join
    (never a corpus scan).  Top-k by (rounded) score, concept_id."""
    scores = _bm25_scores(postings, doclens, terms, k1, b)
    pairs = mentions.select("chunk_id", "concept_id").distinct()
    return (
        pairs.join(scores, "chunk_id")
        .groupBy("concept_id")
        .agg(
            F.round(F.sum("score"), 6).alias("text_score"),
            F.count_distinct("chunk_id").cast("long").alias("n_chunks"),
        )
        .orderBy(F.desc("text_score"), "concept_id")
        .limit(limit)
    )


def search_all_terms(
    postings: DataFrame, terms: list[str], limit: int = 20
) -> DataFrame:
    """Chunks containing ALL ``terms``, ranked by total term frequency
    (desc, chunk_id asc for determinism).  The literal IN-filter on
    term is the prune: only the queried terms' postings move."""
    terms = sorted({t.lower() for t in terms})
    hits = postings.where(F.col("term").isin(terms))
    return (
        hits.groupBy("chunk_id")
        .agg(
            F.count_distinct("term").alias("_nt"),
            F.sum("tf").alias("score"),
        )
        .where(F.col("_nt") == len(terms))
        .select("chunk_id", F.col("score").cast("long").alias("score"))
        .orderBy(F.desc("score"), "chunk_id")
        .limit(limit)
    )
