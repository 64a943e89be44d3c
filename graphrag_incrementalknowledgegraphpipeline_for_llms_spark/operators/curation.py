"""Per-source corpus statistics over extracted concepts.

* source_overlap — the inter-source shared-concept graph (mirror and
  syndication candidates at host granularity).
* kl_divergence_from_counts — smoothed KL divergence of each source's
  categorical distribution from the corpus distribution.

Both back driver keys (``kg_source_overlap``, ``kg_source_reliability``)
whose DuckDB oracles replay the same expression shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def source_overlap(
    mentions: DataFrame,
    doc_sources: DataFrame,
    max_spread: int | None = None,
    min_shared: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Inter-source shared-concept graph — mirror-farm detection at
    the SOURCE level (the domain-granularity sibling of the document
    dedup family: two hosts whose pages keep mentioning the same
    concept set are syndication/mirror candidates even when no single
    page pair is a near-dup).  For every source pair sharing >=
    ``min_shared`` distinct concepts, returns (source_a, source_b,
    shared, na, nb, jaccard) with jaccard = shared / (na + nb -
    shared) over the guarded concept sets, ranked shared desc /
    source_a / source_b, top-k.

    ``max_spread`` is the viral-concept guard (the line-dedup
    anti-join move): a concept present in more than ``max_spread``
    sources is corpus vocabulary, not mirror evidence — and it is
    exactly the key that makes the concept self-join quadratic in
    source count.  Dropping it bounds per-concept join fan-out by
    C(max_spread, 2).  Per-source totals (na, nb) are computed on the
    SAME guarded relation so jaccard stays a true set statistic of
    what was compared.

    Scale shape: one mention->source equi-join (doc-bound), one
    distinct to (source, concept) — source-vocabulary-bound, tiny vs
    the corpus; spread guard = one concept-keyed agg + semi-join;
    the pair self-join keys on concept_id with fan-out capped by the
    guard; one (a, b) hash agg + two broadcast-sized joins for the
    totals."""
    sc = (
        mentions.select("chunk_id", "concept_id")
        .join(doc_sources.select("chunk_id", "source"), "chunk_id")
        .select("source", "concept_id")
        .distinct()
    )
    if max_spread is not None:
        keep = (
            sc.groupBy("concept_id")
            .agg(F.count(F.lit(1)).alias("spread"))
            .where(F.col("spread") <= max_spread)
            .select("concept_id")
        )
        sc = sc.join(keep, "concept_id")
    n = sc.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    left = sc.select(F.col("source").alias("source_a"), "concept_id")
    right = sc.select(F.col("source").alias("source_b"), "concept_id")
    pairs = (
        left.join(right, "concept_id")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(n.withColumnRenamed("source", "source_a").withColumnRenamed("n", "na"), "source_a")
        .join(n.withColumnRenamed("source", "source_b").withColumnRenamed("n", "nb"), "source_b")
        .select(
            "source_a", "source_b", "shared", "na", "nb",
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("shared"), "source_a", "source_b")
        .limit(top_k)
    )


def kl_divergence_from_counts(st: DataFrame, top_v: int = 2048) -> DataFrame:
    """Smoothed KL divergence of each source's distribution from the
    corpus distribution, over a pre-aggregated ``(source, term, c)``
    count relation, so any categorical distribution per group
    (unigrams, extracted concept ids, URL hosts) gets the same
    closed-form score with engine-exact expression shapes (the
    arithmetic the ``kg_source_reliability`` oracle replays).

    ``st`` feeds FIVE consumers (top-V ranking, the two scalar
    collects' chains, ns, and the seen-sum), so it is staged as
    scratch parquet once — the corpus-scale explode+aggregate behind
    it would otherwise recompute per consumer; the staged relation is
    (source, term, c) triples, exactly round-tripped."""
    from .dedup import stage_parquet

    st = stage_parquet(st, "kl_counts")
    ct = st.groupBy("term").agg(F.sum("c").alias("ct"))
    top = ct.orderBy(F.desc("ct"), "term").limit(top_v).select("term")
    bucketed = (
        st.join(F.broadcast(top.withColumn("_keep", F.lit(1))), "term", "left")
        .select(
            "source",
            F.when(F.col("_keep").isNotNull(), F.col("term"))
            .otherwise(F.lit("<other>"))
            .alias("bterm"),
            "c",
        )
        .groupBy("source", "bterm")
        .agg(F.sum("c").alias("c"))
    )
    ctb = bucketed.groupBy("bterm").agg(F.sum("c").alias("ct"))
    scal = ctb.agg(
        F.count(F.lit(1)).alias("v1"), F.sum("ct").alias("n")
    ).collect()[0]
    v1, n = int(scal["v1"]), int(scal["n"])
    q = ctb.select(
        "bterm",
        ((F.col("ct") + 1).cast("double") / F.lit(float(n + v1))).alias("q"),
    ).withColumn("lnq", F.log("q"))
    l_total = float(q.agg(F.sum("lnq")).collect()[0][0])
    joined = bucketed.join(F.broadcast(q), "bterm")
    # two-pass: N_s first (needed inside every seen term's P), then the
    # seen-sum with N_s joined back (a |sources|-row broadcast)
    ns = bucketed.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_terms_seen")
    )
    seen = (
        joined.join(F.broadcast(ns), "source")
        .select(
            "source",
            (
                ((F.col("c") + 1).cast("double") / (F.col("n_tokens") + F.lit(v1)))
                * F.log(
                    ((F.col("c") + 1).cast("double") / (F.col("n_tokens") + F.lit(v1)))
                    / F.col("q")
                )
            ).alias("_kl_term"),
            F.col("lnq"),
        )
        .groupBy("source")
        .agg(
            F.sum("_kl_term").alias("kl_seen"),
            F.sum("lnq").alias("lnq_seen"),
        )
    )
    p0 = F.lit(1.0) / (F.col("n_tokens") + F.lit(v1)).cast("double")
    return (
        ns.join(seen, "source")
        .select(
            "source",
            "n_tokens",
            "n_terms_seen",
            F.round(
                F.col("kl_seen")
                + p0
                * (
                    (F.lit(v1) - F.col("n_terms_seen")) * F.log(p0)
                    - (F.lit(l_total) - F.col("lnq_seen"))
                ),
                6,
            ).alias("kl_corpus"),
        )
        .orderBy("source")
    )
