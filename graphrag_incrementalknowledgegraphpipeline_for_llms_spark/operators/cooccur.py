"""Co-occurrence pair generation + PMI (R1-R5 of SURVEY.md §2.4).

R1 in the reference is per-chunk only (CoOccurExtractor.scala:28-57):
all unordered pairs over the distinct concepts of one chunk, canonical
order by concept_id, windowId = chunk_id, freq = 1.  Because the
concept list is already a per-row array column (the extraction UDF
dedupes first-seen), pair generation is pure Catalyst array
combinatorics — NO shuffle, no Python, per-row work that scales
linearly with input splits.  A join formulation is provided too
(candidate_pairs_join) — it is the shape the DuckDB oracle uses — but
the array form is the production path.

PMI (R3-R5) exists in the reference as dead code never wired into the
job (CoOccurExtractor.scala:69-136; `min-pmi` documented in
README.md:633-641).  Here the scores are a distributed aggregation:
two groupBy counts + two joins + a log2 (``pmi_scores``).  Like the
reference, no build path filters pairs on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# all i<j pairs from the deduped `concepts` array, canonicalized by
# concept_id (ties keep list order — id-symmetric, see purecore).
_PAIR_EXPR = """
flatten(transform(concepts, (x, xi) ->
  transform(slice(concepts, xi + 2, size(concepts)), y ->
    struct(
      if(x.concept_id <= y.concept_id, x, y) AS a,
      if(x.concept_id <= y.concept_id, y, x) AS b))))
"""


def candidate_pairs(chunks_with_concepts: DataFrame) -> DataFrame:
    """R1+R2: (a, b, window_id, freq, evidence) candidates.

    Input must carry ``chunk_id``, ``concepts`` (array), ``evidence``
    (text take 500) — from functions.concepts.with_concepts.  Chunks
    with <2 concepts are gated out (GraphRagJob.scala:309).
    """
    gated = chunks_with_concepts.where(F.size("concepts") >= 2)
    carry = ["evidence"] + (
        ["evidence100"] if "evidence100" in chunks_with_concepts.columns else []
    )
    return gated.select(
        "chunk_id", *carry, F.explode(F.expr(_PAIR_EXPR)).alias("p")
    ).select(
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
        F.col("chunk_id").alias("window_id"),
        F.lit(1).cast("long").alias("freq"),
        *carry,
    )


def candidate_pairs_join(mentions: DataFrame, chunks_with_evidence: DataFrame) -> DataFrame:
    """R1 as an explicit self-join (the distributed formulation when
    mentions arrive as a flat table rather than per-chunk arrays):
    equi-join on chunk_id + strict composite-key theta predicate.
    Shuffles once on chunk_id; AQE handles per-chunk skew."""
    key = lambda p: F.concat_ws("\x1f", f"{p}.concept_id", f"{p}.lemma", f"{p}.surface", f"{p}.origin")  # noqa: E731
    m1 = mentions.alias("m1")
    m2 = mentions.alias("m2")
    pairs = m1.join(m2, on="chunk_id").where(key("m1") < key("m2"))
    sel = lambda p, n: F.struct(  # noqa: E731
        F.col(f"{p}.concept_id").alias("concept_id"),
        F.col(f"{p}.lemma").alias("lemma"),
        F.col(f"{p}.surface").alias("surface"),
        F.col(f"{p}.origin").alias("origin"),
    ).alias(n)
    canon = pairs.select(
        F.col("chunk_id").alias("window_id"),
        F.when(F.col("m1.concept_id") <= F.col("m2.concept_id"), sel("m1", "x"))
        .otherwise(sel("m2", "x"))
        .alias("a"),
        F.when(F.col("m1.concept_id") <= F.col("m2.concept_id"), sel("m2", "x"))
        .otherwise(sel("m1", "x"))
        .alias("b"),
        F.lit(1).cast("long").alias("freq"),
    )
    return canon.join(
        chunks_with_evidence.select(F.col("chunk_id").alias("window_id"), "evidence"),
        on="window_id",
    )


def aggregate_pair_frequencies(pairs: DataFrame) -> DataFrame:
    """R5 (CoOccurExtractor.scala:125-136): group by id pair, sum freq,
    keep one exemplar pair of concept structs (min = deterministic
    stand-in for Scala's `group.head`)."""
    return pairs.groupBy(
        F.col("a.concept_id").alias("a_id"), F.col("b.concept_id").alias("b_id")
    ).agg(
        F.sum("freq").alias("freq"),
        F.min_by(F.struct("a", "b"), F.struct("window_id", F.col("a.surface"))).alias("exemplar"),
    )


def concept_chunk_frequencies(mentions: DataFrame) -> DataFrame:
    """f(concept) = number of distinct chunks mentioning it — the
    conceptFreqs input of CoOccurExtractor.filterByPMI."""
    return (
        mentions.select("chunk_id", "concept_id")
        .distinct()
        .groupBy("concept_id")
        .agg(F.count("*").alias("cfreq"))
    )


def pmi_scores(
    pair_freqs: DataFrame, concept_freqs: DataFrame, total_chunks: int
) -> DataFrame:
    """R3: PMI(a,b) = log2((f_ab/N) / ((f_a/N)(f_b/N))), 0.0 on any
    zero input (CoOccurExtractor.scala:75-84).  concept_freqs is tiny
    relative to pairs — broadcast both join sides' build side."""
    ca = F.broadcast(concept_freqs).alias("ca")
    cb = F.broadcast(concept_freqs).alias("cb")
    joined = (
        pair_freqs.alias("p")
        .join(ca, F.col("p.a_id") == F.col("ca.concept_id"), "left")
        .join(cb, F.col("p.b_id") == F.col("cb.concept_id"), "left")
    )
    n = F.lit(float(total_chunks))
    fa = F.coalesce(F.col("ca.cfreq"), F.lit(0)).cast("double")
    fb = F.coalesce(F.col("cb.cfreq"), F.lit(0)).cast("double")
    fab = F.col("p.freq").cast("double")
    pmi = F.when(
        (n == 0) | (fa == 0) | (fb == 0) | (fab == 0), F.lit(0.0)
    ).otherwise(F.log2((fab / n) / ((fa / n) * (fb / n))))
    return joined.select(
        F.col("p.a_id").alias("a_id"),
        F.col("p.b_id").alias("b_id"),
        F.col("p.freq").alias("freq"),
        pmi.alias("pmi"),
    )

