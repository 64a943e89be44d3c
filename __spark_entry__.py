"""Driver contract for the PySpark GraphRAG KG engine.

``entry(spark)`` runs the flagship concept-search (Q2) over the sf0.001
documents table end-to-end (extraction -> graph -> search).

``queries()`` maps each of the 107 ``kg_*`` keys to a Spark query over
an ``sf_dir`` of parquet tables: KG construction (mentions, pairs, PMI,
triples, SVO frames), search and retrieval (concept, text, BM25,
hybrid, evidence, neighbors, GraphRAG local/global/drift search and
context packs) and graph analytics (PageRank, components, communities,
centralities, paths, embeddings).  ``oracle_sql()`` holds a DuckDB
oracle for every key; each mirrors the Spark semantics exactly.  The
per-doc text is derived with an identical regexp_replace chain in both
engines because the raw ``documents.text`` is all-lowercase (no
extraction branch would fire on it).  tests/test_beyond_window_oracles.py
replays every key against its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
    concepts as cf,
)
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import (
    openie,
    purecore,
)
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import (
    canonicalize,
    cooccur,
    curation,
    dedup,
    graph,
    scorer,
)
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

SF001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# deterministic casing: documents.text is all-lowercase; this chain is
# applied identically in Spark and DuckDB so every extraction branch
# (NER / stopword / camelCase / acronym gates / technicalTerm) and every
# scorer rule (is_a / part_of / causes) fires on real data.
# ---------------------------------------------------------------------------
CASE_RULES = [
    (r"\bspark\b", "Apache Spark"),   # NER multi-word
    (r"\bthe\b", "The"),              # stopword -> excluded
    (r"\bwindow\b", "Window"),        # NER single word
    (r"\bscan\b", "tableScan"),       # technicalTerm
    (r"\bagg\b", "AGG"),              # acronym (3)
    (r"\bmerge\b", "MergeSort"),      # camelCase
    (r"\bkey\b", "KeyValue"),         # camelCase
    (r"\bhash\b", "HASHTABLES"),      # acronym len>6 -> excluded
    (r"\bsort\b", "Top-K"),           # lemma-normalization edge
    (r"\bsmall\b", "is a"),           # scorer rule: is_a
    (r"\bbig\b", "part of"),          # scorer rule: part_of
    (r"\bslow\b", "causes"),          # scorer rule: causes
    (r"\bvector\b", "New York"),      # T4: multi-word NER_LOCATION merge
    (r"\bcustomer\b", "Alice Smith"), # T4: multi-word NER_PERSON merge
]


def _cased_col(col):
    for pat, rep in CASE_RULES:
        col = F.regexp_replace(col, pat, rep)
    return col


def _cased_sql(expr: str = "text") -> str:
    for pat, rep in CASE_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return expr


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a tiny-file scan out to the session's parallelism.

    The sf* documents/embeddings tables are single small parquet files
    (one row group), so Spark's byte-based split packing gives the scan
    1-2 partitions and every narrow compute-bound stage downstream
    (concept extraction) runs on 2 of N cores.  Parquet
    can't split below row-group granularity, so an explicit shuffle of
    the (tiny) input is the only spread.  At 100 TB the scan has
    thousands of row groups and this no-ops in spirit — the shuffle
    cost here is bounded by the small input size by construction."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("chunk_id"),
        _cased_col(F.col("text")).alias("text"),
    )


_ENRICHED_STAGE: dict = {}


def _enriched(spark, sf_dir):
    """One extraction pass per (session, sf_dir), shared by every kg_*
    query — staged as scratch parquet and memoized, NOT .cache():
    cached pandas-UDF-produced blocks degrade every SUBSEQUENT
    JVM-heavy stage in the session 5-50x on this runtime (measured: a
    MinHash-LSH query ran 22 s in a fresh session but 120-474 s after a
    kg_* query had cached the 10x enriched table; staging to parquet
    removes the cross-query poisoning — the round-1 pathology,
    dedup.stage_parquet docstring)."""
    key = (id(spark), sf_dir)
    if key not in _ENRICHED_STAGE:
        _ENRICHED_STAGE[key] = dedup.stage_parquet(
            cf.with_concepts(_chunks(spark, sf_dir)), "enriched"
        )
    return _ENRICHED_STAGE[key]


def _staged(spark, sf_dir, key, builder):
    """Session-memoized scratch-parquet staging for the derived
    relations every kg_* query re-derives from the extraction output
    (mentions explode, candidate pairs, scored triples) — the same
    stage-table pattern (and the same rationale) as ``_enriched``
    above: ~60 graph queries each re-ran the explode/score chain per
    invocation; staging it once per (session, sf_dir) removes that
    constant from every downstream query while each bench/oracle run
    still computes everything from the parquet inputs within the
    process.  Parquet round-trips strings/doubles/longs exactly, so
    downstream results are bit-identical."""
    k = (id(spark), sf_dir, key)
    if k not in _ENRICHED_STAGE:
        _ENRICHED_STAGE[k] = dedup.stage_parquet(builder(), key)
    return _ENRICHED_STAGE[k]


def _mentions(spark, sf_dir):
    return _staged(
        spark, sf_dir, "kg_mentions",
        lambda: cf.mentions_from(_enriched(spark, sf_dir)),
    )


def _triples(spark, sf_dir):
    def build():
        cands = cooccur.candidate_pairs(_enriched(spark, sf_dir))
        return scorer.triples_from(scorer.score_candidates(cands))

    return _staged(spark, sf_dir, "kg_triples", build)


STOPWORDS_SQL = ",".join(f"'{w}'" for w in sorted(purecore.STOP_WORDS))


def _attack_block(k: int) -> str:
    """One hub-removal closure for the kg_attack_tolerance oracle:
    filtered edges -> recursive reachability -> component sizes ->
    per-k scalars (mirrors queries.attack_tolerance)."""
    filt = (
        f"WHERE u NOT IN (SELECT id FROM athub WHERE rn <= {k}) "
        f"AND v NOT IN (SELECT id FROM athub WHERE rn <= {k})"
        if k
        else ""
    )
    return f""",
ae{k} AS MATERIALIZED (SELECT u, v FROM au {filt}),
asym{k} AS (SELECT u AS id, v AS nbr FROM ae{k} UNION SELECT v, u FROM ae{k}),
an{k} AS (SELECT DISTINCT id FROM asym{k}),
ar{k}(id, r) AS (SELECT id, id FROM an{k}
  UNION SELECT rc.id, s.nbr FROM ar{k} rc JOIN asym{k} s ON rc.r = s.id),
ac{k} AS (SELECT id, MIN(r) AS comp FROM ar{k} GROUP BY id),
asz{k} AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM ac{k} GROUP BY comp),
ast{k} AS (SELECT CAST({k} AS INT) AS k_removed,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM adeg
    WHERE id NOT IN (SELECT id FROM athub WHERE rn <= {k})) AS n_nodes,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM ae{k}) AS n_edges,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM asz{k}) AS n_cc,
  COALESCE((SELECT CAST(MAX(sz) AS BIGINT) FROM asz{k}), 0) AS largest0,
  COALESCE((SELECT CAST(SUM(sz) AS BIGINT) FROM asz{k}), 0) AS covered)"""

# mentions CTE shared by most KG oracles (semantics: purecore T1-T3)
MENTIONS_CTE = f"""
src AS (SELECT CAST(doc_id AS VARCHAR) AS chunk_id, {_cased_sql()} AS text FROM documents),
raw AS (
  SELECT chunk_id, unnest(regexp_extract_all(text, '\\b[A-Z][a-z]+(?:\\s+[A-Z][a-z]+)*\\b')) AS surface, 'NER' AS origin FROM src
  UNION ALL
  SELECT chunk_id, unnest(regexp_extract_all(text, '\\b[A-Z][a-z]+(?:[A-Z][a-z]+)+\\b')), 'camelCase' FROM src
  UNION ALL
  SELECT chunk_id, unnest(regexp_extract_all(text, '\\b[A-Z]{{2,}}\\b')), 'acronym' FROM src
  UNION ALL
  SELECT chunk_id, unnest(regexp_extract_all(text, '\\b[a-z]+(?:[A-Z][a-z]+)+\\b')), 'technicalTerm' FROM src
),
gated AS (
  SELECT * FROM raw
  WHERE NOT (origin = 'NER' AND (length(surface) <= 2 OR surface IN ({STOPWORDS_SQL})))
    AND NOT (origin = 'acronym' AND length(surface) > 6)
),
mentions AS (
  SELECT DISTINCT chunk_id,
    substr(sha256(trim(regexp_replace(regexp_replace(lower(regexp_replace(surface, '([a-z])([A-Z])', '\\1_\\2', 'g')), '[^a-z0-9_]', '_', 'g'), '_+', '_', 'g'), '_')), 1, 16) AS concept_id,
    trim(regexp_replace(regexp_replace(lower(regexp_replace(surface, '([a-z])([A-Z])', '\\1_\\2', 'g')), '[^a-z0-9_]', '_', 'g'), '_+', '_', 'g'), '_') AS lemma,
    surface, origin
  FROM gated
)"""

# canonical id-ordered pairs CTE (purecore R1 semantics; composite key
# breaks full-identity ties exactly like the engine's join formulation)
PAIRS_CTE = f"""{MENTIONS_CTE},
pairs AS (
  SELECT m1.chunk_id AS window_id,
         least(m1.concept_id, m2.concept_id) AS a_id,
         greatest(m1.concept_id, m2.concept_id) AS b_id,
         CASE WHEN m1.concept_id <= m2.concept_id THEN m1.lemma ELSE m2.lemma END AS a_lemma,
         CASE WHEN m1.concept_id <= m2.concept_id THEN m2.lemma ELSE m1.lemma END AS b_lemma,
         CAST(1 AS BIGINT) AS freq
  FROM mentions m1 JOIN mentions m2
    ON m1.chunk_id = m2.chunk_id
   AND concat(m1.concept_id, chr(31), m1.lemma, chr(31), m1.surface, chr(31), m1.origin)
     < concat(m2.concept_id, chr(31), m2.lemma, chr(31), m2.surface, chr(31), m2.origin)
)"""

# ---------------------------------------------------------------------------
# OpenIE SVO frames (functions/openie.py) over the cased corpus + a
# deterministic planted tail.  The casing chain already injects the
# frame verbs into the corpus (CASE_RULES: small -> "is a", big ->
# "part of", slow -> "causes"), so IS_A / PART_OF / CAUSES fire
# ORGANICALLY across every document; the planted tail adds the
# SYNONYM_OF frame plus arguments guaranteed to resolve against the
# concept vocabulary (full-lemma or head-token backoff).  Args are
# selected per doc_id from this list; heads of the two modifier
# entries exercise the head-backoff path.
# ---------------------------------------------------------------------------
SVO_LINK_ARGS = [
    "apache spark",
    "new york",
    "alice smith",
    "key value",
    "merge sort",
    "table scan",
    "window",
    "agg",
    "top",
    "fast window",  # full lemma not in vocab -> head 'window' links
    "shared agg",   # full lemma not in vocab -> head 'agg' links
]
_SVO_N = len(SVO_LINK_ARGS)


def _svo_text_col():
    arr = F.array(*[F.lit(w) for w in SVO_LINK_ARGS])

    def a(i):
        return F.element_at(
            arr, ((F.col("doc_id") + 3 * i) % _SVO_N + 1).cast("int")
        )

    return F.concat(
        _cased_col(F.col("text")),
        F.lit(". the "), a(0), F.lit(" is a "), a(1),
        F.lit(". "), a(2), F.lit(" causes "), a(3),
        F.lit(". the "), a(4), F.lit(" is part of the "), a(5),
        F.lit(". "), a(6), F.lit(" is also known as "), a(7), F.lit("."),
    )


def _svo_text_sql() -> str:
    arr = "[" + ",".join(f"'{w}'" for w in SVO_LINK_ARGS) + "]"

    def a(i):
        return f"({arr})[(doc_id + {3 * i}) % {_SVO_N} + 1]"

    return (
        f"{_cased_sql()} || '. the ' || {a(0)} || ' is a ' || {a(1)}"
        f" || '. ' || {a(2)} || ' causes ' || {a(3)}"
        f" || '. the ' || {a(4)} || ' is part of the ' || {a(5)}"
        f" || '. ' || {a(6)} || ' is also known as ' || {a(7)} || '.'"
    )


_SVO_FRAME_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, '{p}' AS predicate, unnest(list_zip("
    f"regexp_extract_all(t, '{pat}', 1), regexp_extract_all(t, '{pat}', 2)"
    f")) AS z FROM svosrc"
    for p, pat in openie.FRAMES
)

_SVO_CTES = f"""svosrc AS (SELECT doc_id, lower({_svo_text_sql()}) AS t FROM documents),
svom AS ({_SVO_FRAME_SELECTS}),
svo AS (SELECT doc_id, predicate, z[1] AS subj, z[2] AS obj FROM svom)"""


def _msf_sql(rounds: int) -> str:
    """Unrolled Borůvka maximum spanning forest: per round a recursive
    min-id reachability over the selected FOREST edges (node-bound),
    then per-component best crossing edge by the strict total order
    (w DESC, a_id, b_id).  Components at least halve per round, so
    `rounds` >= log2(V) reaches the fixpoint and extra rounds no-op
    (empty crossing set -> empty pick)."""
    parts = [
        """
wt AS MATERIALIZED (SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS w
                    FROM pairs GROUP BY a_id, b_id),
msf_nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT a_id AS id FROM wt UNION SELECT b_id FROM wt)),
sel_0 AS MATERIALIZED (SELECT a_id, b_id, w FROM wt WHERE 1 = 0)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""
reach_{k} AS (
  SELECT id, id AS comp FROM msf_nodes
  UNION
  SELECT CASE WHEN e.a_id = r.id THEN e.b_id ELSE e.a_id END, r.comp
  FROM reach_{k} r JOIN sel_{k - 1} e ON e.a_id = r.id OR e.b_id = r.id),
comp_{k} AS MATERIALIZED (SELECT id, min(comp) AS comp FROM reach_{k} GROUP BY id),
cross_{k} AS MATERIALIZED (
  SELECT e.a_id, e.b_id, e.w, ca.comp AS ca, cb.comp AS cb
  FROM wt e
  JOIN comp_{k} ca ON ca.id = e.a_id
  JOIN comp_{k} cb ON cb.id = e.b_id
  WHERE ca.comp <> cb.comp),
pick_{k} AS MATERIALIZED (
  SELECT DISTINCT a_id, b_id, w FROM (
    SELECT a_id, b_id, w,
           ROW_NUMBER() OVER (PARTITION BY comp ORDER BY w DESC, a_id, b_id) AS rn
    FROM (SELECT ca AS comp, a_id, b_id, w FROM cross_{k}
          UNION ALL SELECT cb, a_id, b_id, w FROM cross_{k}))
  WHERE rn = 1),
sel_{k} AS MATERIALIZED (SELECT * FROM sel_{k - 1} UNION SELECT * FROM pick_{k})""")
    body = ",".join(parts)
    return (
        f"WITH RECURSIVE {{pairs}},{body}\n"
        f"SELECT a_id, b_id, w FROM sel_{rounds} ORDER BY a_id, b_id"
    )


def _matching_sql(rounds: int, final: str | None = None) -> str:
    """Unrolled greedy-equivalent maximal matching: per round an edge
    wins when its md5 priority is the min among live edges at BOTH
    endpoints; winners' endpoints leave.  Extra rounds no-op once the
    live set is empty."""
    parts = [
        """
mlive_0 AS MATERIALIZED (SELECT DISTINCT a_id, b_id FROM pairs WHERE a_id <> b_id)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(f""",
mpe_{k} AS MATERIALIZED (
  SELECT a_id, b_id, md5('mm' || '|' || a_id || '|' || b_id) AS p
  FROM mlive_{k - 1}),
mnm_{k} AS MATERIALIZED (
  SELECT node, min(p) AS mp FROM (
    SELECT a_id AS node, p FROM mpe_{k}
    UNION ALL SELECT b_id, p FROM mpe_{k}) GROUP BY node),
mwin_{k} AS MATERIALIZED (
  SELECT e.a_id, e.b_id FROM mpe_{k} e
  JOIN mnm_{k} na ON na.node = e.a_id
  JOIN mnm_{k} nb ON nb.node = e.b_id
  WHERE e.p = na.mp AND e.p = nb.mp),
mdead_{k} AS MATERIALIZED (
  SELECT a_id AS node FROM mwin_{k} UNION SELECT b_id FROM mwin_{k}),
mmat_{k} AS MATERIALIZED (
  {"SELECT a_id, b_id FROM mwin_" + str(k) if k == 1 else f"SELECT * FROM mmat_{k - 1} UNION SELECT a_id, b_id FROM mwin_{k}"}),
mlive_{k} AS MATERIALIZED (
  SELECT l.a_id, l.b_id FROM mlive_{k - 1} l
  WHERE l.a_id NOT IN (SELECT node FROM mdead_{k})
    AND l.b_id NOT IN (SELECT node FROM mdead_{k})
    AND NOT EXISTS (SELECT 1 FROM mwin_{k} w WHERE w.a_id = l.a_id AND w.b_id = l.b_id))""")
    parts.append(
        "\n" + (final or f"SELECT a_id, b_id FROM mmat_{rounds} ORDER BY a_id, b_id")
    )
    return "".join(parts)


def _label_spreading_sql(iters: int = 5) -> str:
    """Unrolled seed-clamped frontier-monotone label spreading
    (mirrors queries.label_spreading): seeds = the 5 most-mentioned
    concepts self-labeled; per round still-unlabeled nodes take the
    majority label among labeled neighbors (ties -> min label) and
    record the round they joined."""
    s = """lund AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
ladj AS MATERIALIZED (SELECT cid, nbr_id FROM lund WHERE cid <> nbr_id),
ls0 AS MATERIALIZED (SELECT concept_id AS id, concept_id AS label, 0 AS round FROM (
  SELECT concept_id, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, concept_id) AS rn
  FROM mentions GROUP BY concept_id) WHERE rn <= 5)"""
    for k in range(1, iters + 1):
        s += f""",
lsv_{k} AS (SELECT a.cid AS id, l.label, COUNT(*) AS c
   FROM ladj a JOIN ls{k - 1} l ON a.nbr_id = l.id
   WHERE a.cid NOT IN (SELECT id FROM ls{k - 1}) GROUP BY a.cid, l.label),
lsw_{k} AS (SELECT id, label FROM (
   SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
   FROM lsv_{k}) WHERE rn = 1),
ls{k} AS MATERIALIZED (SELECT * FROM ls{k - 1} UNION ALL SELECT id, label, {k} FROM lsw_{k})"""
    return s + f"""
SELECT id, label, CAST(round AS INT) AS round FROM ls{iters} ORDER BY id"""


def _coloring_sql(msf_rounds: int, jp_rounds: int) -> str:
    """Jones-Plassmann over the Borůvka forest: reuses the _msf_sql
    round chain (sel_{msf_rounds} = forest edges), then unrolls JP
    rounds — winners are uncolored local priority maxima, color = mex
    of the colored neighborhood."""
    msf = _msf_sql(msf_rounds)
    head = msf[: msf.rindex("\nSELECT ")]  # keep the CTE chain only
    parts = [
        head,
        f""",
jund AS MATERIALIZED (
  SELECT a_id AS cid, b_id AS nbr_id FROM sel_{msf_rounds}
  UNION ALL SELECT b_id, a_id FROM sel_{msf_rounds}),
jnodes AS MATERIALIZED (SELECT DISTINCT cid AS id FROM jund),
col_0 AS MATERIALIZED (SELECT cid AS id, 0 AS color FROM jund WHERE 1 = 0)""",
    ]
    for j in range(1, jp_rounds + 1):
        parts.append(f""",
unc_{j} AS MATERIALIZED (
  SELECT id FROM jnodes WHERE id NOT IN (SELECT id FROM col_{j - 1})),
win_{j} AS MATERIALIZED (
  SELECT u.id FROM unc_{j} u
  LEFT JOIN (SELECT e.cid AS id, max(md5(e.nbr_id)) AS mx
             FROM jund e
             JOIN unc_{j} a ON a.id = e.cid
             JOIN unc_{j} b ON b.id = e.nbr_id
             GROUP BY e.cid) m ON m.id = u.id
  WHERE m.mx IS NULL OR md5(u.id) > m.mx),
used_{j} AS MATERIALIZED (
  SELECT w.id, list_sort(list_distinct(list(c.color))) AS used
  FROM win_{j} w
  JOIN jund e ON e.cid = w.id
  JOIN col_{j - 1} c ON c.id = e.nbr_id
  GROUP BY w.id),
col_{j} AS MATERIALIZED (
  SELECT * FROM col_{j - 1}
  UNION ALL
  SELECT w.id,
         CAST(coalesce(
           list_filter(range(0, coalesce(len(u.used), 0) + 1),
                       x -> NOT list_contains(coalesce(u.used, []), x))[1],
           0) AS INT) AS color
  FROM win_{j} w LEFT JOIN used_{j} u ON u.id = w.id)""")
    parts.append(
        f"\nSELECT id, CAST(color AS BIGINT) AS color FROM col_{jp_rounds} ORDER BY id"
    )
    return "".join(parts)


def _densest_ctes(eps: float, rounds: int) -> str:
    """Unrolled Bahmani peeling over an existing ``und`` CTE: per
    round a degree agg, a 1-row stats CTE, the survivor filter
    (``deg > scale * ne2 / nv`` in the exact multiply-then-divide
    order the Spark literals use), and the surviving edge set.  The
    best iterate is the EARLIEST max-density round (ORDER BY rho
    DESC, rnd — mirroring the engine's strict ``>``)."""
    scale = float(1.0 + eps)
    parts = ["e0 AS MATERIALIZED (SELECT cid, nbr_id FROM und)"]
    for r in range(rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS BIGINT) AS deg FROM e{r} GROUP BY cid)"
        )
        parts.append(
            f"st{r} AS MATERIALIZED (SELECT CAST(COALESCE(SUM(deg), 0) AS BIGINT) AS ne2, CAST(COUNT(*) AS BIGINT) AS nv FROM d{r})"
        )
        if r < rounds:
            parts.append(
                f"k{r} AS MATERIALIZED (SELECT d{r}.cid FROM d{r}, st{r} WHERE deg > {scale!r} * CAST(ne2 AS DOUBLE) / nv)"
            )
            parts.append(
                f"e{r + 1} AS MATERIALIZED (SELECT a.cid, a.nbr_id FROM e{r} a JOIN k{r} x ON a.cid = x.cid JOIN k{r} y ON a.nbr_id = y.cid)"
            )
    dens = " UNION ALL ".join(
        f"SELECT {r} AS rnd, ne2, nv FROM st{r} WHERE nv > 0"
        for r in range(rounds + 1)
    )
    nd = " UNION ALL ".join(
        f"SELECT {r} AS rnd, cid FROM (SELECT DISTINCT cid FROM e{r})"
        for r in range(rounds + 1)
    )
    parts.append(
        f"""dens AS ({dens}),
best AS (SELECT rnd, ROUND(ne2 / (2.0 * nv), 6) AS density FROM dens
         ORDER BY CAST(ne2 AS DOUBLE) / (2.0 * nv) DESC, rnd LIMIT 1),
nd AS ({nd})"""
    )
    return ",\n".join(parts)


# directed concept precedence edges (first-occurrence order per chunk)
# shared by the kg_scc and kg_triad_census oracles; composes after
# MENTIONS_CTE (needs `mentions` and `src`)
_PRECEDENCE_CTES = """firstpos AS (
  SELECT m.chunk_id, m.concept_id, MIN(strpos(s.text, m.surface)) AS pos
  FROM mentions m JOIN src s ON s.chunk_id = m.chunk_id
  GROUP BY m.chunk_id, m.concept_id),
seq AS (
  SELECT chunk_id, concept_id,
         LAG(concept_id) OVER (PARTITION BY chunk_id ORDER BY pos, concept_id) AS prev
  FROM firstpos),
sedges AS MATERIALIZED (SELECT DISTINCT prev AS src_id, concept_id AS dst_id FROM seq
           WHERE prev IS NOT NULL AND prev <> concept_id)"""

TRIPLES_CTE = f"""{PAIRS_CTE},
evid AS (SELECT chunk_id, substr(text, 1, 500) AS evidence, substr(text, 1, 100) AS evidence100 FROM src),
scored AS (
  SELECT p.a_id AS subj_id,
         CASE WHEN p.a_lemma = p.b_lemma THEN 'synonym_of'
              WHEN contains(lower(e.evidence), ' is a ') OR contains(lower(e.evidence), ' is an ') THEN 'is_a'
              WHEN contains(lower(e.evidence), ' part of ') THEN 'part_of'
              WHEN contains(lower(e.evidence), ' causes ') OR contains(lower(e.evidence), ' caused by ') THEN 'causes'
              ELSE 'related_to' END AS predicate,
         p.b_id AS obj_id,
         CAST(CASE WHEN p.a_lemma = p.b_lemma THEN 0.9
              WHEN contains(lower(e.evidence), ' is a ') OR contains(lower(e.evidence), ' is an ') THEN 0.9
              WHEN contains(lower(e.evidence), ' part of ') THEN 0.85
              WHEN contains(lower(e.evidence), ' causes ') OR contains(lower(e.evidence), ' caused by ') THEN 0.8
              ELSE 0.5 END AS DOUBLE) AS confidence,
         e.evidence100 AS evidence,
         p.window_id AS chunk_id
  FROM pairs p JOIN evid e ON p.window_id = e.chunk_id
),
triples AS (SELECT * FROM scored WHERE confidence >= 0.65)"""


# sampled-source hop-bounded Brandes betweenness, unrolled (mirrors
# queries.betweenness_sampled: forward sigma BFS, predecessor DAG,
# backward dependency accumulation); MATERIALIZED per level — multi-
# referenced CTEs inline exponentially in DuckDB otherwise
def _betweenness_ctes(seeds, max_hops: int = 4, forward_only: bool = False) -> str:
    src = " UNION ".join(
        f"SELECT substr(sha256('{s}'), 1, 16) AS s" for s in sorted(set(seeds))
    )
    out = f"""bund AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
badj AS MATERIALIZED (SELECT cid, nbr_id FROM bund WHERE cid <> nbr_id),
bsrc AS ({src}),
bv0 AS MATERIALIZED (SELECT s, s AS v, 0 AS d, CAST(1 AS DOUBLE) AS sig FROM bsrc),
bvis0 AS MATERIALIZED (SELECT * FROM bv0)"""
    for k in range(1, max_hops + 1):
        out += f""",
bf{k} AS (SELECT x.s, a.nbr_id AS v, SUM(x.sig) AS sig FROM bv{k - 1} x JOIN badj a ON a.cid = x.v GROUP BY x.s, a.nbr_id),
bv{k} AS MATERIALIZED (SELECT f.s, f.v, {k} AS d, f.sig FROM bf{k} f ANTI JOIN bvis{k - 1} vv ON f.s = vv.s AND f.v = vv.v),
bvis{k} AS MATERIALIZED (SELECT * FROM bvis{k - 1} UNION ALL SELECT * FROM bv{k})"""
    if forward_only:  # harmonic centrality needs only the BFS distances
        return out
    out += f""",
bpreds AS MATERIALIZED (SELECT u.s, u.v AS pu, w.v AS pw, u.sig AS su, w.sig AS sw, w.d AS dw
  FROM badj a JOIN bvis{max_hops} u ON a.cid = u.v
  JOIN bvis{max_hops} w ON a.nbr_id = w.v AND w.s = u.s AND w.d = u.d + 1),
bd{max_hops} AS (SELECT s, v, CAST(0 AS DOUBLE) AS delta FROM bv{max_hops})"""
    for l in range(max_hops - 1, 0, -1):
        out += f""",
bd{l} AS MATERIALIZED (SELECT n.s, n.v,
    COALESCE(SUM((p.su / p.sw) * (1.0 + dn.delta)), 0.0) AS delta
  FROM bv{l} n
  LEFT JOIN bpreds p ON p.s = n.s AND p.pu = n.v AND p.dw = {l + 1}
  LEFT JOIN bd{l + 1} dn ON dn.s = p.s AND dn.v = p.pw
  GROUP BY n.s, n.v)"""
    return out


# HITS unrolled rounds (mirrors queries.hits: per round, in-edge hub
# sum -> L2 normalize -> out-edge auth sum -> L2 normalize; the norm is
# a 1-row aggregate cross-joined in, zeros filled from the node set)
def _hits_ctes(iters: int = 8) -> str:
    # mirrors queries.hits: RAW propagation rounds (HITS is linear, so
    # L2 normalization moves to the very end — raw values stay exact
    # integers in double, see the hits() docstring), then one
    # zero-fill + L2 normalize per vector.  MATERIALIZED throughout:
    # each level is referenced by the next half-round and the edge/
    # node sets once per round — without it DuckDB's CTE inlining
    # doubles the expansion per level (2^iters copies of the whole
    # triples pipeline -> "Too many open files")
    s = """dedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM triples),
hnodes AS MATERIALIZED (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM hnodes)"""
    for i in range(1, iters + 1):
        s += f""",
a{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(h.h) AS a FROM dedges e JOIN h{i - 1} h ON e.src = h.id GROUP BY e.dst),
h{i} AS MATERIALIZED (SELECT e.src AS id, SUM(a.a) AS h FROM dedges e JOIN a{i} a ON e.dst = a.id GROUP BY e.src)"""
    s += f""",
af AS MATERIALIZED (SELECT n.id, COALESCE(r.a, 0.0) AS raw FROM hnodes n LEFT JOIN a{iters} r ON n.id = r.id),
a{iters}n AS (SELECT f.id, f.raw / nn.nrm AS a FROM af f CROSS JOIN (SELECT sqrt(SUM(raw * raw)) AS nrm FROM af) nn),
hf AS MATERIALIZED (SELECT n.id, COALESCE(r.h, 0.0) AS raw FROM hnodes n LEFT JOIN h{iters} r ON n.id = r.id),
h{iters}n AS (SELECT f.id, f.raw / nn.nrm AS h FROM hf f CROSS JOIN (SELECT sqrt(SUM(raw * raw)) AS nrm FROM hf) nn)"""
    return s


_HITS_CTES = _hits_ctes(8)


def _eig_ctes(iters: int = 8) -> str:
    # mirrors queries.eigenvector_centrality: raw power-iteration
    # rounds over the undirected co-occurrence view (linear, so L2
    # normalization moves to the very end — the HITS finding), one
    # join + one cid-keyed SUM per round.  Every node of `und` has
    # >=1 neighbor (edge-derived view), so no zero-fill mid-loop.
    # MATERIALIZED for the same CTE-inlining reason as _hits_ctes.
    s = """eund AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
ex0 AS (SELECT DISTINCT cid AS id, CAST(1.0 AS DOUBLE) AS x FROM eund)"""
    for i in range(1, iters + 1):
        s += f""",
ex{i} AS MATERIALIZED (SELECT u.cid AS id, SUM(x.x) AS x FROM eund u JOIN ex{i - 1} x ON u.nbr_id = x.id GROUP BY u.cid)"""
    s += f""",
exn AS (SELECT f.id, f.x / nn.nrm AS score FROM ex{iters} f CROSS JOIN (SELECT sqrt(SUM(x * x)) AS nrm FROM ex{iters}) nn)"""
    return s


_EIG_CTES = _eig_ctes(8)


def _katz_ctes(iters: int = 8, alpha: str = "0.1", beta: str = "1.0") -> str:
    # mirrors queries.katz_centrality: x0 = beta, each round ONE
    # join + ONE dst-keyed SUM, then x = beta + alpha * inflow with a
    # zero fill.  MATERIALIZED for the same CTE-inlining reason as
    # _hits_ctes (each level feeds the next round twice).
    s = """dedges AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM triples),
knodes AS MATERIALIZED (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges),
x0 AS (SELECT id, CAST({beta} AS DOUBLE) AS x FROM knodes)""".format(beta=beta)
    for i in range(1, iters + 1):
        s += f""",
ki{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(x.x) AS inflow FROM dedges e JOIN x{i - 1} x ON e.src = x.id GROUP BY e.dst),
x{i} AS MATERIALIZED (SELECT n.id, {beta} + {alpha} * COALESCE(i.inflow, 0.0) AS x FROM knodes n LEFT JOIN ki{i} i ON n.id = i.id)"""
    return s


_KATZ_CTES = _katz_ctes(8)


# depth-4 is_a transitive closure, unrolled semi-naive rounds (mirrors
# queries.taxonomy_closure: round d extends only the depth-d frontier,
# then MIN(depth) dedups converging paths)
_ISA_CLOSURE_CTES = (
    """isa AS (SELECT DISTINCT subj_id AS desc_id, obj_id AS anc_id FROM triples
       WHERE predicate = 'is_a' AND subj_id <> obj_id),
c1 AS (SELECT desc_id, anc_id, 1 AS depth FROM isa)"""
    + "".join(
        f""",
c{d + 1} AS (SELECT desc_id, anc_id, MIN(depth) AS depth FROM (
  SELECT desc_id, anc_id, depth FROM c{d}
  UNION ALL
  SELECT c.desc_id, i.anc_id, {d + 1} FROM c{d} c JOIN isa i ON c.anc_id = i.desc_id
   WHERE c.depth = {d} AND c.desc_id <> i.anc_id
) GROUP BY desc_id, anc_id)"""
        for d in range(1, 4)
    )
)


# T4 NLP-extraction CTE (purecore.extract_concepts_nlp semantics: the
# deterministic tagger + the reference's entity-merge / noun-gate /
# camelCase-acronym-union logic, ConceptExtractor.scala:157-256).
# Lexicons and suffix lists are generated from purecore so the two
# sides cannot drift.
_LOC_SQL = ",".join(f"'{w}'" for w in sorted(purecore.NER_LOCATION))
_PER_SQL = ",".join(f"'{w}'" for w in sorted(purecore.NER_PERSON))
_ORG_SQL = ",".join(f"'{w}'" for w in sorted(purecore.NER_ORGANIZATION))
_SUFFIX_RE = "(" + "|".join(purecore.NOUN_SUFFIXES) + ")$"
_LEMMA_SQL = (
    "trim(regexp_replace(regexp_replace(lower(regexp_replace({0}, '([a-z])([A-Z])', "
    "'\\1_\\2', 'g')), '[^a-z0-9_]', '_', 'g'), '_+', '_', 'g'), '_')"
)

NLP_MENTIONS_CTE = f"""
nlp_src AS (SELECT chunk_id, regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS t FROM src),
nlp_toks AS (
  SELECT chunk_id,
         unnest(regexp_split_to_array(t, '\\s+')) AS raw,
         generate_subscripts(regexp_split_to_array(t, '\\s+'), 1) AS idx
  FROM nlp_src WHERE length(t) > 0
),
nlp_tagged AS (
  SELECT chunk_id, idx,
         regexp_replace(raw, '^[^A-Za-z0-9]+|[^A-Za-z0-9]+$', '', 'g') AS word,
         NOT regexp_matches(raw, '[A-Za-z0-9]$') AS brk
  FROM nlp_toks
),
nlp_tagged2 AS (
  SELECT *,
    CASE WHEN word IN ({_LOC_SQL}) THEN 'LOCATION'
         WHEN word IN ({_PER_SQL}) THEN 'PERSON'
         WHEN word IN ({_ORG_SQL}) THEN 'ORGANIZATION'
         ELSE 'O' END AS ner,
    CASE WHEN regexp_matches(word, '^[A-Z][a-z]+$') THEN 'NNP'
         WHEN regexp_matches(word, '^[a-z]+$') AND regexp_matches(word, 's$') AND length(word) > 3 THEN 'NNS'
         WHEN regexp_matches(word, '^[a-z]+$') AND regexp_matches(word, '{_SUFFIX_RE}') THEN 'NN'
         ELSE '' END AS pos
  FROM nlp_tagged
),
nlp_runs AS (
  SELECT *, CASE WHEN lag(ner) OVER w IS NULL OR lag(ner) OVER w <> ner OR lag(brk) OVER w THEN 1 ELSE 0 END AS newgrp
  FROM nlp_tagged2 WINDOW w AS (PARTITION BY chunk_id ORDER BY idx)
),
nlp_grps AS (
  SELECT *, SUM(newgrp) OVER (PARTITION BY chunk_id ORDER BY idx ROWS UNBOUNDED PRECEDING) AS grp
  FROM nlp_runs
),
nlp_entities AS (
  SELECT chunk_id, string_agg(word, ' ' ORDER BY idx) AS surface, 'NER_' || any_value(ner) AS origin
  FROM nlp_grps WHERE ner <> 'O' GROUP BY chunk_id, grp
),
nlp_raw AS (
  SELECT chunk_id, surface, origin FROM nlp_entities
  WHERE length(surface) > 2 AND surface NOT IN ({STOPWORDS_SQL})
  UNION ALL
  SELECT chunk_id, word, 'POS_' || pos FROM nlp_grps
  WHERE ner = 'O' AND pos <> '' AND length(word) > 2 AND word NOT IN ({STOPWORDS_SQL})
    AND NOT regexp_matches(lower(word), '^[0-9]+$')
),
nlp_base AS (
  SELECT DISTINCT chunk_id, {_LEMMA_SQL.format('surface')} AS lemma, surface, origin FROM nlp_raw
),
nlp_union AS (
  SELECT * FROM nlp_base
  UNION ALL
  SELECT m.chunk_id, m.lemma, m.surface, m.origin
  FROM mentions m
  WHERE m.origin IN ('camelCase', 'acronym')
    AND NOT EXISTS (SELECT 1 FROM nlp_base n WHERE n.chunk_id = m.chunk_id AND n.lemma = m.lemma)
),
nlp_mentions AS (
  SELECT DISTINCT chunk_id, substr(sha256(lemma), 1, 16) AS concept_id, lemma, surface, origin
  FROM nlp_union
)"""


# ---------------------------------------------------------------------------
# Spark query callables
# ---------------------------------------------------------------------------

def q_kg_mentions(spark, sf_dir):
    return _mentions(spark, sf_dir)


def q_kg_mentions_nlp(spark, sf_dir):
    """T4: NLP-strategy extraction (deterministic NER/POS tagger +
    reference merge/union semantics)."""
    return cf.mentions_from(cf.with_concepts(_chunks(spark, sf_dir), strategy="nlp"))


def q_kg_pairs(spark, sf_dir):
    return _staged(
        spark, sf_dir, "kg_pairs",
        lambda: cooccur.candidate_pairs(_enriched(spark, sf_dir)).select(
            F.col("window_id"),
            F.col("a.concept_id").alias("a_id"),
            F.col("b.concept_id").alias("b_id"),
            "freq",
        ),
    )


def q_kg_pair_freq(spark, sf_dir):
    def build():
        pairs = cooccur.candidate_pairs(_enriched(spark, sf_dir))
        return cooccur.aggregate_pair_frequencies(pairs).select(
            "a_id", "b_id", "freq"
        )

    return _staged(spark, sf_dir, "kg_pair_freq", build)


def q_kg_pmi(spark, sf_dir):
    enriched = _enriched(spark, sf_dir)
    pairs = cooccur.candidate_pairs(enriched)
    mentions = cf.mentions_from(enriched)
    total = _docs(spark, sf_dir).count()
    pf = cooccur.aggregate_pair_frequencies(pairs)
    cfreq = cooccur.concept_chunk_frequencies(mentions)
    return cooccur.pmi_scores(pf, cfreq, total).select(
        "a_id", "b_id", "freq", F.round("pmi", 6).alias("pmi")
    )


def q_kg_triples(spark, sf_dir):
    return _triples(spark, sf_dir)


def q_kg_edge_histogram(spark, sf_dir):
    t = _triples(spark, sf_dir)
    return (
        t.select(graph.sanitize_rel_col(F.col("predicate")).alias("rel"))
        .groupBy("rel")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "rel")
    )


def q_kg_concept_search(spark, sf_dir):
    """Q2 flagship over the derived mention/pair graph: substring
    filter + undirected degree + neighbor collect + top-k."""
    mentions = _mentions(spark, sf_dir)
    pairs = q_kg_pairs(spark, sf_dir)
    concepts = mentions.select("concept_id", "lemma", "surface").distinct()
    und = pairs.select(F.col("a_id").alias("cid"), F.col("b_id").alias("nbr")).unionByName(
        pairs.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr"))
    )
    lem = mentions.select("concept_id", "lemma").distinct()
    nbr = und.join(lem.select(F.col("concept_id").alias("nbr"), F.col("lemma").alias("nbr_lemma")), "nbr")
    matched = concepts.where(F.col("lemma").contains("value") | F.col("surface").contains("value"))
    joined = matched.join(nbr, matched.concept_id == nbr.cid, "left")
    return (
        joined.groupBy("concept_id")
        .agg(
            F.count("cid").alias("score"),
            F.concat_ws(",", F.sort_array(F.collect_set("nbr_lemma"))).alias("related"),
        )
        .orderBy(F.desc("score"), "concept_id")
        .limit(20)
    )


def q_kg_evidence(spark, sf_dir):
    """Q3: chunks mentioning concept 'apache_spark', LIMIT 100."""
    cid = purecore.concept_id("apache_spark")
    m = _mentions(spark, sf_dir).where(F.col("concept_id") == cid)
    chunks = _chunks(spark, sf_dir)
    return (
        m.select("chunk_id").distinct().join(chunks, "chunk_id")
        .orderBy("chunk_id").limit(100)
        .select("chunk_id", "text")
    )


def q_kg_neighbors(spark, sf_dir):
    """Q4: undirected 1-hop distinct neighbors of 'apache_spark'."""
    cid = purecore.concept_id("apache_spark")
    pairs = q_kg_pairs(spark, sf_dir)
    und = pairs.select(F.col("a_id").alias("cid"), F.col("b_id").alias("nbr")).unionByName(
        pairs.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr"))
    )
    lem = _mentions(spark, sf_dir).select(
        F.col("concept_id").alias("nbr"), "lemma"
    ).distinct()
    return (
        und.where(F.col("cid") == cid)
        .select("nbr").distinct()
        .join(lem, "nbr")
        .orderBy("nbr", "lemma")
        .limit(20)
        .select(F.col("nbr").alias("neighbor_id"), "lemma")
    )


def q_kg_group_results(spark, sf_dir):
    """Q5: group concepts by first lemma token."""
    lem = _mentions(spark, sf_dir).select("concept_id", "lemma").distinct()
    return (
        lem.groupBy(F.split(F.col("lemma"), "_").getItem(0).alias("group_key"))
        .agg(F.count("*").alias("n"))
        .orderBy("group_key")
    )


def q_kg_text_search(spark, sf_dir):
    """Inverted-index AND search over chunk text: chunks containing
    both query terms, ranked by summed term frequency."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import textsearch

    postings = textsearch.build_postings(_chunks(spark, sf_dir))
    return textsearch.search_all_terms(postings, ["spark", "data"], limit=20)


def q_kg_text_bm25(spark, sf_dir):
    """BM25-ranked retrieval (OR semantics) over the chunk text — the
    scored counterpart of kg_text_search's boolean AND; fully
    SQL-expressible, so the whole idf/tf-saturation/length-norm math
    is DuckDB-oracled."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import textsearch

    chunks = _chunks(spark, sf_dir)
    postings = textsearch.build_postings(chunks)
    doclens = textsearch.doc_lengths(chunks)
    return textsearch.bm25_search(postings, doclens, ["spark", "data"], limit=20)


def q_kg_hybrid_search(spark, sf_dir):
    """GraphRAG hybrid retrieval: per-chunk BM25 relevance summed onto
    the concepts each chunk mentions — 'which graph entities does this
    query light up'.  Composes the oracled BM25 scorer with the
    oracled mention extraction; the oracle replays both and the join."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import textsearch

    chunks = _chunks(spark, sf_dir)
    postings = textsearch.build_postings(chunks)
    doclens = textsearch.doc_lengths(chunks)
    mentions = _mentions(spark, sf_dir)
    return textsearch.hybrid_concept_search(
        postings, doclens, mentions, ["spark", "data"], limit=20
    )


def q_kg_neighbors_2hop(spark, sf_dir):
    """2-hop undirected neighborhood of 'apache_spark' with min_hops —
    the multi-hop extension of Q4."""
    cid = purecore.concept_id("apache_spark")
    pairs = q_kg_pairs(spark, sf_dir)
    und = (
        pairs.select(F.col("a_id").alias("cid"), F.col("b_id").alias("nbr"))
        .unionByName(pairs.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr")))
        .distinct()
    )
    h1 = und.where(F.col("cid") == cid).select("nbr").distinct()
    h2 = (
        und.join(h1.withColumnRenamed("nbr", "cid"), "cid")
        .select("nbr")
        .distinct()
        .where(F.col("nbr") != cid)
        .join(h1, "nbr", "left_anti")
    )
    out = h1.withColumn("min_hops", F.lit(1)).unionByName(
        h2.withColumn("min_hops", F.lit(2))
    )
    return out.select(F.col("nbr").alias("neighbor_id"), "min_hops").orderBy(
        "min_hops", "neighbor_id"
    )


def _pr10(spark, sf_dir):
    """Session-staged FULL PageRank field (10 iters, d=0.85,
    top_k=None) over the co-occurrence graph — kg_pagerank and
    kg_node_features each re-ran the identical power iteration; the
    rank column is rounded to 8 dp before staging, so the parquet
    round-trip is exact."""
    return _staged(
        spark, sf_dir, "kg_pr10",
        lambda: q.pagerank_und(_kg_cooccur_und(spark, sf_dir), iters=10, top_k=None),
    )


def _core8(spark, sf_dir):
    """Session-staged coreness (8 h-index rounds) — kg_coreness and
    kg_node_features each re-ran the identical iteration."""
    return _staged(
        spark, sf_dir, "kg_core8",
        lambda: q.coreness(_kg_cooccur_und(spark, sf_dir), iters=8),
    )


def q_kg_pagerank(spark, sf_dir):
    """PageRank over the co-occurrence concept graph (10 iterations,
    d=0.85), top 20 — deterministic; exact numpy oracle in
    tests/test_graph_queries.py, and a DuckDB oracle with the 10
    iterations unrolled as chained CTEs."""
    return _pr10(spark, sf_dir).orderBy(F.desc("rank"), "id").limit(20)


def q_kg_pagerank_weighted(spark, sf_dir):
    """Frequency-weighted PageRank: each neighbor receives
    rank * w / strength with w = co-occurrence multiplicity — hubs
    anchored by many repeated pairings outrank incidental ones (the
    production variant for co-occurrence graphs, same weighting as
    kg_communities_weighted)."""
    pairs = q_kg_pairs(spark, sf_dir)
    w = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("w"))
    und = w.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id"), "w"
    ).unionByName(
        w.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"), "w")
    )
    return q.pagerank_und(und, iters=10, top_k=20, weight_col="w")


def q_kg_independent_set(spark, sf_dir):
    """Luby maximal independent set over the co-occurrence graph
    (static md5 priorities == the lexicographically-first / greedy
    MIS): a maximal conflict-free concept set — the 1-hop
    diversification picker for retrieval and the classic parallel
    scheduling primitive."""
    return q.independent_set(_kg_cooccur_und(spark, sf_dir))


def q_kg_bfs(spark, sf_dir):
    """BFS distances from 'apache_spark' over the co-occurrence graph,
    max 3 hops — frontier-expansion joins vs the oracle's recursive
    CTE with min-dist aggregation."""
    cid = purecore.concept_id("apache_spark")
    pairs = q_kg_pairs(spark, sf_dir)
    und = pairs.select(F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")).unionByName(
        pairs.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"))
    )
    return q.bfs_distances(und, cid, max_hops=3)


def q_kg_connected_components(spark, sf_dir):
    """Connected components over a chain graph (consecutive vec_ids
    within each embedding label) — CC(chain) must equal the per-label
    min, which the oracle computes directly."""
    emb = _emb(spark, sf_dir)
    ids = emb.select(
        F.lpad(F.col("vec_id").cast("string"), 6, "0").alias("id"), "label"
    )
    w = Window.partitionBy("label").orderBy("id")
    edges = ids.withColumn("prev", F.lag("id").over(w)).where(F.col("prev").isNotNull())
    cc = canonicalize.connected_components(edges.select(F.col("prev").alias("u"), F.col("id").alias("v")))
    singles = ids.join(cc, ids.id == cc.id, "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return cc.unionByName(singles).orderBy("id")


def _kg_cooccur_und(spark, sf_dir):
    """Undirected (cid, nbr_id) view of the co-occurrence pair graph —
    shared adjacency for pagerank / BFS / LPA communities."""
    pairs = q_kg_pairs(spark, sf_dir)
    return pairs.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")
    ).unionByName(
        pairs.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"))
    )


def _und_distinct(spark, sf_dir):
    """Session-staged DISTINCT co-occurrence adjacency — the PPR
    family (local_search, context_pack, drift_search) each re-paid
    the 312k->10k distinct shuffle + checkpoint per invocation; the
    staged relation goes in with prepared=True (the pagerank_und
    seam).  Only consumers whose semantics are multiplicity-free may
    use this (PPR distincts internally; weighted votes must NOT)."""
    return _staged(
        spark, sf_dir, "kg_und_distinct",
        lambda: _kg_cooccur_und(spark, sf_dir).distinct(),
    )


def _lpa5(spark, sf_dir):
    """Session-staged 5-round LPA labels over the unweighted
    co-occurrence graph — the community index seven queries
    (communities, modularity, conductance, community_report,
    global_search, drift_search, community_bridges, and the
    hierarchy's level 0) each re-derived per invocation; the
    ``_staged`` pattern (labels are (id, label) strings — parquet
    round-trips them exactly, so every consumer's rows are
    bit-identical to the direct derivation)."""
    return _staged(
        spark, sf_dir, "kg_lpa5",
        lambda: q.label_propagation(_kg_cooccur_und(spark, sf_dir), iters=5),
    )


def q_kg_communities(spark, sf_dir):
    """GraphRAG community index: 5 rounds of synchronous label
    propagation (majority neighbor label, ties -> min label) over the
    co-occurrence concept graph, then (community, n_members) for the
    50 largest.  Deterministic by construction; the DuckDB oracle
    unrolls the 5 voting rounds as chained CTEs."""
    return q.community_sizes(_lpa5(spark, sf_dir), top_k=50)


def q_kg_incremental_communities(spark, sf_dir):
    """Incremental community-index refresh: split the co-occurrence
    pair graph deterministically into a ~87.5% base and a ~12.5% delta
    batch (pmod(xxhash64(a,b), 8) == 0), build the base LPA index +
    component index, then refresh ONLY the delta-touched components
    (plans/queries.incremental_communities).  The oracle is the
    FULL-graph 5-round LPA over all pairs — a hash-exact green row IS
    the proof that the O(touched) incremental refresh equals the full
    rebuild."""
    pairs = q_kg_pairs(spark, sf_dir)
    is_delta = F.pmod(F.xxhash64("a_id", "b_id"), F.lit(8)) == 0

    def _sym(p):
        return p.select(
            F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")
        ).unionByName(
            p.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"))
        )

    labels, _ = q.incremental_communities(
        _sym(pairs.where(~is_delta)), _sym(pairs.where(is_delta)), iters=5
    )
    return q.community_sizes(labels, top_k=50)


def q_kg_modularity(spark, sf_dir):
    """Newman modularity of the 5-round LPA partition — the quality
    score a Louvain/Leiden loop would optimize, here the health gate
    of the GraphRAG community index.  Assembled from exact integer
    aggregates and divided once on a single row, so the double is
    bit-stable across partitionings."""
    und = _kg_cooccur_und(spark, sf_dir)
    return q.modularity(und, _lpa5(spark, sf_dir))


def q_kg_communities_weighted(spark, sf_dir):
    """Frequency-weighted LPA: votes carry co-occurrence multiplicity
    (a pair seen in 50 chunks outvotes one seen once) — the
    production-quality variant of kg_communities."""
    pairs = q_kg_pairs(spark, sf_dir)
    w = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("w"))
    und = w.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id"), "w"
    ).unionByName(
        w.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"), "w")
    )
    labels = q.label_propagation(und, iters=5, weight_col="w")
    return q.community_sizes(labels, top_k=50)


def q_kg_conductance(spark, sf_dir):
    """Per-community conductance (cut / min(vol, 2m - vol)) of the
    20 largest LPA communities — the boundary-quality complement to
    kg_modularity."""
    und = _kg_cooccur_und(spark, sf_dir)
    return q.conductance(und, _lpa5(spark, sf_dir), top_k=20)


def q_kg_community_report(spark, sf_dir):
    """Deterministic community reports for the 10 largest LPA
    communities: top-5 member concepts by mention count — the
    extractive stand-in for GraphRAG's LLM community summaries."""
    labels = _lpa5(spark, sf_dir)
    mentions = q_kg_mentions(spark, sf_dir)
    return q.community_report(labels, mentions, top_communities=10, top_concepts=5)


def q_kg_global_search(spark, sf_dir):
    """GraphRAG global search: rank LPA communities by how strongly
    the query pattern lights up their member concepts (total matched
    mentions; argmax lemma as the community headline)."""
    labels = _lpa5(spark, sf_dir)
    mentions = q_kg_mentions(spark, sf_dir)
    return q.global_search(labels, mentions, pattern="a", top_k=10)


def q_kg_community_hierarchy(spark, sf_dir):
    """Two-level GraphRAG community hierarchy: LPA at level 0, then
    weighted LPA over the contracted community graph at level 1."""
    return q.community_hierarchy(
        _kg_cooccur_und(spark, sf_dir), iters=5, l0=_lpa5(spark, sf_dir)
    ).orderBy("id")


def q_kg_triangles(spark, sf_dir):
    """Per-concept triangle counts + clustering coefficient via the
    degree-oriented wedge join (skew-bounded: wedges enumerate only at
    their minimum-degree apex)."""
    return q.triangle_counts(_kg_cooccur_und(spark, sf_dir), top_k=100)


def q_kg_ktruss(spark, sf_dir):
    """Iterated k-truss peeling (k=12, 3 rounds — the fixpoint on this
    graph): the densely interlocked edge cores of the co-occurrence
    graph, with per-edge support measured within the surviving
    subgraph.  Edge-level cohesion complement to kg_coreness."""
    return q.ktruss(_kg_cooccur_und(spark, sf_dir), k=12, iters=3)


def q_kg_related_concepts(spark, sf_dir):
    """Link prediction over the co-occurrence graph: non-adjacent
    concept pairs at distance 2 ranked by neighborhood Jaccard."""
    return q.related_concepts(_kg_cooccur_und(spark, sf_dir), top_k=20, min_common=2)


_PPR_SEED_LEMMAS = ("apache_spark", "machine_learning")


def _ppr_seeds():
    import hashlib

    return [
        hashlib.sha256(s.encode()).hexdigest()[:16] for s in _PPR_SEED_LEMMAS
    ]


def q_kg_personalized_pagerank(spark, sf_dir):
    """Seed-teleport PageRank from two linked entities — the GraphRAG
    local-search expansion (rank decays with distance from seeds)."""
    return q.personalized_pagerank(
        _kg_cooccur_und(spark, sf_dir), seeds=_ppr_seeds(), iters=10, top_k=20
    )


# Raw query text; entity linking normalizes + hashes these inside
# local_search.  "quantum tunneling" is deliberately absent from the
# corpus — absent seeds must be ignored, not crash the teleport.
_LOCAL_SEARCH_TERMS = ("Apache Spark", "MergeSort", "quantum tunneling")


def _local_search_lemmas() -> tuple[str, ...]:
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
        normalize_lemma,
    )

    return tuple(normalize_lemma(t) for t in _LOCAL_SEARCH_TERMS)


def q_kg_random_walks(spark, sf_dir):
    """DeepWalk corpus export: 1 deterministic hash-driven walk of 3
    steps per concept node — skip-gram training data for graph
    embeddings."""
    return q.random_walks(
        _kg_cooccur_und(spark, sf_dir), walks_per_node=1, walk_length=3, seed=42
    )


def q_kg_node2vec(spark, sf_dir):
    """node2vec second-order biased walk corpus (p=4, q=0.25 — the
    binary-exact weights 0.25/1/4 keep the weighted-sampling cumsum
    IEEE-identical across engines): 1 deterministic walk of 3 steps
    per concept node, return-discouraged and outward-biased."""
    return q.node2vec_walks(
        _kg_cooccur_und(spark, sf_dir), p=4.0, q=0.25, walk_length=3, seed=42
    )


def q_kg_entity_resolution(spark, sf_dir):
    """End-to-end entity resolution over the triple store: a
    deterministic alias rule links lemma variants ("the_X" -> "X",
    "X_top" -> "X" when the base lemma exists), connected components
    pick each cluster's canonical id (min), and every triple endpoint
    is rewritten onto its canonical concept — merged self-loops drop,
    surviving triples aggregate (count + max confidence).  Exercises
    canonicalize.alias_edges / canonical_concepts / rewrite_triples
    as one pipeline."""
    m = q_kg_mentions(spark, sf_dir)
    lem = m.select("lemma").distinct()
    v1 = lem.where(F.col("lemma").startswith("the_")).select(
        F.col("lemma").alias("lemma_a"),
        F.expr("substring(lemma, 5)").alias("lemma_b"),
    )
    v2 = lem.where(F.col("lemma").endswith("_top")).select(
        F.col("lemma").alias("lemma_a"),
        F.expr("left(lemma, length(lemma) - 4)").alias("lemma_b"),
    )
    alias_pairs = v1.unionByName(v2).where(F.col("lemma_b") != "")
    cmap = canonicalize.canonical_concepts(m, alias_pairs)
    rw = canonicalize.rewrite_triples(_triples(spark, sf_dir), cmap)
    return (
        rw.where(F.col("subj_id") != F.col("obj_id"))
        .groupBy("subj_id", "predicate", "obj_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_merged"),
            F.round(F.max("confidence"), 2).alias("max_conf"),
        )
        .orderBy("subj_id", "predicate", "obj_id")
    )


def q_kg_graph_stats(spark, sf_dir):
    """One-row structural summary (nodes, edges, degrees, density,
    triangles, global clustering) of the co-occurrence graph."""
    return q.graph_stats(_kg_cooccur_und(spark, sf_dir))


def q_kg_contrastive_pairs(spark, sf_dir):
    """Contrastive training pairs: co-occurrence edges as positives,
    2 hash-sampled filtered non-edges per positive as negatives."""
    return q.contrastive_edge_pairs(
        _kg_cooccur_und(spark, sf_dir), negatives_per_pos=2, seed=42
    )


def q_kg_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context, count) export from the DeepWalk
    corpus — window 2 over the kg_random_walks walks."""
    walks = q.random_walks(
        _kg_cooccur_und(spark, sf_dir), walks_per_node=1, walk_length=3, seed=42
    )
    return q.skipgram_pairs(walks, window=2)


def q_kg_neighbor_sample(spark, sf_dir):
    """GraphSAGE block sampling: fanout-(3,2) deterministic 2-hop
    blocks from every concept node — GNN minibatch training export."""
    return q.neighbor_sample(
        _kg_cooccur_und(spark, sf_dir), fanouts=(3, 2), seed=42
    )


def q_kg_coreness(spark, sf_dir):
    """k-core decomposition: 8 rounds of synchronous h-index
    iteration over the co-occurrence graph (converges to exact
    coreness; pytest pins fixture convergence vs peeling)."""
    return _core8(spark, sf_dir).orderBy(F.desc("coreness"), "id")


def q_kg_local_search(spark, sf_dir):
    """GraphRAG local search: link raw query terms to concept ids
    (pure hash — no scan), expand with personalized PageRank, then
    attach mention statistics for context assembly."""
    return q.local_search(
        _und_distinct(spark, sf_dir),
        q_kg_mentions(spark, sf_dir),
        terms=list(_LOCAL_SEARCH_TERMS),
        iters=10,
        top_k=20,
        und_prepared=True,
    )


def q_kg_source_overlap(spark, sf_dir):
    """Inter-source shared-concept graph (mirror-farm detection at
    domain granularity): source pairs ranked by distinct shared
    concepts + Jaccard, with concepts spread over >12 of the 20
    sources dropped as corpus vocabulary (the viral-key guard that
    also bounds the concept self-join fan-out)."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("chunk_id"), "source"
    )
    return curation.source_overlap(
        _mentions(spark, sf_dir), d, max_spread=12, min_shared=2, top_k=50
    )


def q_kg_int_encode(spark, sf_dir):
    """Dense-integer graph encoding (GNN / embedding-framework export,
    graph.encode_graph_ints): the distinct (label, id) node vocabulary
    gets contiguous int ids by (label, id) order, and the MENTIONS
    edges are remapped onto them — the edge-list-with-dense-ids layout
    every graph-learning toolkit ingests (export_graph materializes
    the same two tables to parquet)."""
    m = q_kg_mentions(spark, sf_dir)
    nodes = (
        _chunks(spark, sf_dir)
        .select(F.lit("Chunk").alias("label"), F.col("chunk_id").alias("id"))
        .unionByName(
            m.select(
                F.lit("Concept").alias("label"), F.col("concept_id").alias("id")
            )
        )
    )
    edges = graph.mention_edges(m, "2024-01-01 00:00:00").dropDuplicates(
        ["src_id", "dst_id"]
    )
    _, int_edges = graph.encode_graph_ints(nodes, edges)
    return int_edges.select("src", "dst", "rel").orderBy("src", "dst")


def q_kg_adamic_adar(spark, sf_dir):
    """Adamic-Adar + resource-allocation link prediction over
    non-adjacent distance-2 concept pairs — the degree-discounted
    upgrade of kg_related_concepts' common-neighbor/Jaccard ranking."""
    return q.adamic_adar(_kg_cooccur_und(spark, sf_dir), top_k=20, min_common=2)


def q_kg_link_prediction(spark, sf_dir):
    """Full link-prediction feature table (common neighbors, Jaccard,
    Adamic-Adar, resource allocation, preferential attachment) over
    non-adjacent distance-2 concept pairs — the per-candidate feature
    row a learned edge-suggestion ranker consumes, superset of
    kg_adamic_adar's two scores."""
    return q.link_prediction(_kg_cooccur_und(spark, sf_dir), top_k=20, min_common=2)


def q_kg_shortest_paths(spark, sf_dir):
    """Hop-bounded weighted shortest paths (6 Bellman-Ford rounds)
    from the PPR seed entities over the co-occurrence graph, edge
    weight 1/freq (frequent co-occurrence = close) — the distance
    field a GraphRAG retriever uses to budget context expansion."""
    pf = q_kg_pair_freq(spark, sf_dir)
    w = (F.lit(1.0) / F.col("freq")).alias("w")
    wund = pf.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id"), w
    ).unionByName(
        pf.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"), w)
    )
    return q.shortest_paths(wund, source_ids=_ppr_seeds(), iters=6)


def _isa_edges(spark, sf_dir):
    """Directed is_a taxonomy edges (child subsumes into parent) from
    the scored triples — the subset a retriever's query-expansion and
    the reference's IS_A edge family (RelationScorer.scala rules) feed."""
    return (
        _triples(spark, sf_dir)
        .where(F.col("predicate") == "is_a")
        .select(
            F.col("subj_id").alias("child_id"), F.col("obj_id").alias("parent_id")
        )
    )


def q_kg_taxonomy_closure(spark, sf_dir):
    """Depth-4 transitive closure of the is_a taxonomy (desc, anc,
    shortest depth) — broader-term expansion for retrieval."""
    return q.taxonomy_closure(_isa_edges(spark, sf_dir), max_depth=4)


def q_kg_taxonomy_rollup(spark, sf_dir):
    """Mention mass rolled up the is_a hierarchy: which ancestor
    concepts subsume the most corpus evidence (generality ranking)."""
    closure = q.taxonomy_closure(_isa_edges(spark, sf_dir), max_depth=4)
    mc = (
        q_kg_mentions(spark, sf_dir)
        .groupBy("concept_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    return q.taxonomy_rollup(closure, mc, top_k=100)


def q_kg_hits(spark, sf_dir):
    """HITS hubs/authorities over the DIRECTED triple graph — separates
    'object many facts point at' (authority) from 'subject anchoring
    many facts' (hub), which undirected PageRank conflates."""
    t = _triples(spark, sf_dir)
    return q.hits(
        t.select(F.col("subj_id").alias("src_id"), F.col("obj_id").alias("dst_id")),
        iters=8,
        top_k=20,
    )


def q_kg_tie_strength(spark, sf_dir):
    """Granovetter tie-strength census: per existing co-occurrence
    edge the triangle support + neighborhood-overlap embeddedness —
    strong intra-community ties vs support-0 local bridges; the
    structure-based twin of kg_community_bridges and the adjacent-pair
    complement of kg_link_prediction."""
    return q.tie_strength(_kg_cooccur_und(spark, sf_dir), top_k=50)


def q_kg_graph_growth(spark, sf_dir):
    """Temporal KG-growth panel over per-minute crawl buckets — per bucket the
    NEW concepts / co-occurrence edges (first-seen bucket), running
    cumulative totals, and the densification ratio cum_edges/cum_nodes
    (the Leskovec et al. 2005 densification-law probe).  The evolution
    dashboard an INCREMENTAL crawl pipeline watches: a bend in the
    new-node curve is a crawl-frontier change, a densification jump is
    a template/boilerplate source flooding the graph.  Crawl hour is
    derived from the deterministic warc_ts ramp (epoch + doc_id); the
    60 s bucket width is a literal in
    the query — widen to hours/days at production crawl rates, the
    plan shape is identical.

    Scale shape: two first-seen hash aggregates (concept-keyed,
    pair-keyed — the same shuffle keys the KG build already uses),
    then the cumulative window runs over the BUCKET-level aggregate:
    O(buckets) rows (a decade of hourly buckets is ~10^5 rows), so the
    unpartitioned running-sum window is bounded by construction, never
    by corpus size.  Buckets contributing ZERO novelty are omitted
    (the panel is sparse in first-seen events — on the 10x replica
    corpus the row count stays at the novel-content bucket count, not
    10x, which is the desired output-bounded-by-novelty shape)."""
    h_expr = lambda c: F.floor(F.col(c).cast("long") / F.lit(60)).alias("h")
    m = q_kg_mentions(spark, sf_dir)
    nn = (
        m.select("concept_id", h_expr("chunk_id"))
        .groupBy("concept_id")
        .agg(F.min("h").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("new_nodes"))
    )
    p = q_kg_pairs(spark, sf_dir)
    ee = (
        p.where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", h_expr("window_id"))
        .groupBy("a_id", "b_id")
        .agg(F.min("h").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("new_edges"))
    )
    hs = nn.select("h").unionByName(ee.select("h")).distinct()
    j = (
        hs.join(nn, "h", "left")
        .join(ee, "h", "left")
        .select(
            "h",
            F.coalesce("new_nodes", F.lit(0)).alias("new_nodes"),
            F.coalesce("new_edges", F.lit(0)).alias("new_edges"),
        )
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        j.select(
            "h",
            "new_nodes",
            "new_edges",
            F.sum("new_nodes").over(w).alias("cum_nodes"),
            F.sum("new_edges").over(w).alias("cum_edges"),
        )
        .select(
            "h",
            "new_nodes",
            "new_edges",
            "cum_nodes",
            "cum_edges",
            F.round(
                F.col("cum_edges").cast("double") / F.col("cum_nodes"), 6
            ).alias("densification"),
        )
        .orderBy("h")
    )


def q_kg_eigenvector(spark, sf_dir):
    """Eigenvector centrality (8 power-iteration rounds, end-L2-norm)
    over the undirected co-occurrence concept graph, top 20 — the
    dense-core influence reading that PageRank's 1/deg split dampens;
    completes the centrality panel (pagerank / katz / hits / harmonic
    / betweenness / eccentricity).  DuckDB oracle unrolls the 8
    rounds as MATERIALIZED CTEs."""
    return q.eigenvector_centrality(_kg_cooccur_und(spark, sf_dir), iters=8, top_k=20)


def q_kg_drift_search(spark, sf_dir):
    """GraphRAG DRIFT search: global community ranking picks the most
    query-relevant community, then PPR re-seeded at its matched
    members drills into (and may drift beyond) that community."""
    labels = _lpa5(spark, sf_dir)
    mentions = q_kg_mentions(spark, sf_dir)
    return q.drift_search(
        _und_distinct(spark, sf_dir), labels, mentions,
        pattern="a", iters=10, top_k=20, und_prepared=True,
    )


def q_kg_betweenness(spark, sf_dir):
    """Sampled-source hop-bounded Brandes betweenness from the PPR
    seed entities over the co-occurrence graph — which concepts BROKER
    the shortest connections out of the seed neighborhood."""
    return q.betweenness_sampled(
        _kg_cooccur_und(spark, sf_dir), _ppr_seeds(), max_hops=4, top_k=20
    )


def q_kg_ego_subgraph(spark, sf_dir):
    """2-hop ego network around 'apache_spark': co-occurrence edges
    whose BOTH endpoints are within 2 hops of the seed, with per-
    endpoint hop distance — the context subgraph a GraphRAG prompt
    builder or graph UI ships.  Composition: BFS reach + two
    broadcast-sized distance joins; the pair table never expands."""
    cid = purecore.concept_id("apache_spark")
    pf = q_kg_pair_freq(spark, sf_dir)
    und = pf.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")
    ).unionByName(pf.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id")))
    dist = q.bfs_distances(und, cid, max_hops=2)
    da = dist.select(F.col("id").alias("a_id"), F.col("dist").alias("a_dist"))
    db = dist.select(F.col("id").alias("b_id"), F.col("dist").alias("b_dist"))
    return (
        pf.join(da, "a_id").join(db, "b_id")
        .select("a_id", "b_id", "freq", "a_dist", "b_dist")
        .orderBy("a_id", "b_id")
    )


def q_kg_fastrp_neighbors(spark, sf_dir):
    """Structurally-similar entities: cosine top-5 per PPR seed over
    the 6-dp-rounded FastRP embedding relation — the graph-ML
    composition (embed -> similarity) a GraphRAG 'related entities'
    surface runs."""
    emb = q_kg_fastrp(spark, sf_dir)
    return q.embedding_neighbors(emb, seed_ids=_ppr_seeds(), top_k=5)


_PATH_DST_LEMMA = "the_new_york_window"  # multi-hop from apache_spark at sf0.01


def q_kg_path_between(spark, sf_dir):
    """Shortest weighted path WITH reconstruction from the flagship
    seed concept to a peripheral concept (weight 1/freq) — the
    relationship-explanation witness a GraphRAG answer cites, not
    just the distance.  Empty when unreachable within 6 hops (the
    sf0.001 corpus doesn't connect them; sf0.01 yields a 3-node
    witness)."""
    import hashlib

    pf = q_kg_pair_freq(spark, sf_dir)
    w = (F.lit(1.0) / F.col("freq")).alias("w")
    wund = pf.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id"), w
    ).unionByName(
        pf.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"), w)
    )
    dst = hashlib.sha256(_PATH_DST_LEMMA.encode()).hexdigest()[:16]
    return q.shortest_path_between(wund, src=_ppr_seeds()[0], dst=dst, iters=6)


def q_kg_degree_distribution(spark, sf_dir):
    """Log2-bucketed degree histogram of the concept graph — the
    power-law / hub-tail diagnostic that sizes skew mitigations
    (salting thresholds, wedge caps) before running them.  Bucket =
    floor(log2(degree)); integer arithmetic end to end."""
    und = _kg_cooccur_und(spark, sf_dir)
    adj = und.select("cid", "nbr_id").where(F.col("cid") != F.col("nbr_id")).distinct()
    deg = adj.groupBy("cid").agg(F.count(F.lit(1)).alias("degree"))
    bucket = F.floor(F.log2("degree")).cast("long")
    return (
        deg.groupBy(bucket.alias("log2_degree"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
        .orderBy("log2_degree")
    )


def q_kg_node_features(spark, sf_dir):
    """Per-node feature matrix (degree, coreness, PageRank, LPA
    community) over the co-occurrence graph — the tabular export a
    node classifier / GNN trainer consumes; ties the graph-ML family
    into one oracle-pinned table."""
    return q.node_features(
        _kg_cooccur_und(spark, sf_dir),
        pr=_pr10(spark, sf_dir),
        core=_core8(spark, sf_dir),
        labels=_lpa5(spark, sf_dir),
    )


def q_kg_context_pack(spark, sf_dir):
    """GraphRAG last mile: token-budgeted context assembly — entity
    link + PPR pick the top-10 entities, each contributes <=3 evidence
    snippets, packed greedily (rank desc) until the 150-token budget
    is spent.  The rows ARE the prompt, in prompt order."""
    und = _und_distinct(spark, sf_dir)
    m = q_kg_mentions(spark, sf_dir)
    chunks = _chunks(spark, sf_dir)
    return q.context_pack(
        und,
        m,
        chunks,
        terms=["Apache Spark", "Machine Learning"],
        token_budget=150,
        top_entities=10,
        evidence_per_entity=3,
        snippet_chars=200,
        und_prepared=True,
    )


def q_kg_peripheral_concepts(spark, sf_dir):
    """KG cleanup review queue: the 25 weakest-attached concepts
    (lowest distinct-neighbor degree, mention counts attached) plus
    any mentioned-but-edgeless concepts at degree 0 — extraction-noise
    candidates ranked exactly where a pruning pass starts.  Integer-
    ranked (degree asc, id), never a float LIMIT."""
    m = q_kg_mentions(spark, sf_dir)
    pf = q_kg_pair_freq(spark, sf_dir)
    und = pf.select(F.col("a_id").alias("concept_id"), F.col("b_id").alias("n")).unionByName(
        pf.select(F.col("b_id").alias("concept_id"), F.col("a_id").alias("n"))
    )
    deg = und.distinct().groupBy("concept_id").agg(F.count(F.lit(1)).alias("degree"))
    mc = m.groupBy("concept_id").agg(
        F.min("lemma").alias("lemma"),
        F.count(F.lit(1)).alias("n_mentions"),
        F.count_distinct("chunk_id").alias("n_chunks"),
    )
    return (
        mc.join(deg, "concept_id", "left")
        .select(
            "concept_id", "lemma",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            "n_mentions", "n_chunks",
        )
        .orderBy("degree", "concept_id")
        .limit(25)
    )


def q_kg_community_bridges(spark, sf_dir):
    """Inter-community bridge edges (endpoints labeled differently by
    5-round LPA), ranked by co-occurrence weight — the crossing points
    a global->local GraphRAG drill-down pivots on."""
    labels = _lpa5(spark, sf_dir)
    return q.community_bridges(q_kg_pair_freq(spark, sf_dir), labels, top_k=50)


def q_kg_metapath_counts(spark, sf_dir):
    """Typed 2-hop meta-path census (which relation pairs compose):
    distinct-edge graph, hub mids capped at degree 128 (the
    squares_count guard — in_deg x out_deg is the quadratic blowup)."""
    return q.metapath_counts(_triples(spark, sf_dir), max_degree=128)


def q_kg_typed_degrees(spark, sf_dir):
    """Per-concept typed in/out degree profile over the directed
    triple graph (is_a / part_of / causes / related_to) — the
    relation-aware feature block untyped degree flattens away."""
    return q.typed_degrees(_triples(spark, sf_dir))


def q_kg_spam_mass(spark, sf_dir):
    """TrustRank spam mass (Gyongyi et al. VLDB 2004): uniform-teleport
    PageRank vs trusted-seed TrustRank over the same co-occurrence
    graph; spam_mass = (PR - TR)/PR flags prominence trust can't reach
    (SEO/boilerplate concept clusters).  Both vectors ride ONE joint
    power iteration."""
    return q.spam_mass(
        _kg_cooccur_und(spark, sf_dir), trusted_seeds=_ppr_seeds(), iters=10
    )


def q_kg_related_chunks(spark, sf_dir):
    """Chunk-level "more like this" via the bipartite projection:
    chunks sharing >= 2 guarded concepts, ranked by shared count +
    concept-set Jaccard — the entity-overlap retrieval signal
    orthogonal to BM25 and embedding cosine.  max_spread=20 viral-
    concept guard bounds the self-join fan-out at C(20,2)."""
    return q.related_chunks(
        q_kg_mentions(spark, sf_dir), max_spread=20, min_shared=2, top_k=100
    )


def q_kg_egonet_anomaly(spark, sf_dir):
    """OddBall ego-net anomaly scores (Akoglu 2010) over the concept
    co-occurrence graph: residual from the fitted degree-vs-ego-edges
    power law — near-cliques (link farms / boilerplate clusters) and
    near-stars (spam hubs) light up.  OLS coefficients rounded to 8dp
    before any per-node expression, so scores are engine-exact."""
    return q.egonet_anomaly(_kg_cooccur_und(spark, sf_dir), threshold=1.0)


def q_kg_dag_paths(spark, sf_dir):
    """Path multiplicity over the is_a DAG (depth <= 4): how many
    distinct chains connect each (descendant, ancestor) pair — the
    evidence weight the closure/layers views discard.  Exact BIGINT
    semi-naive DP, one join + one sum-agg per round."""
    return q.dag_path_counts(_isa_edges(spark, sf_dir), max_depth=4)


def q_kg_graph_sparsify(spark, sf_dir):
    """Degree-aware edge sparsification (Spielman-Srivastava shape,
    1/sqrt(da*db) resistance proxy): keep p = min(1, 4/sqrt(da*db)),
    weight 1/p — unbiased cut/degree statistics at a fraction of the
    edge count; the pre-pass that makes iterative graph families
    affordable at web scale.  Deterministic md5 coin per edge."""
    return q.sparsify_edges(_kg_cooccur_und(spark, sf_dir), c=4.0)


def q_kg_topo_layers(spark, sf_dir):
    """Topological layer assignment over the is_a taxonomy DAG: roots
    at layer 0, everyone else at max(parent layer)+1 (longest ancestor
    chain = generality level) — the depth coordinate the closure/
    rollup pair doesn't expose, keyed on by hierarchy drill-downs."""
    return q.taxonomy_layers(_isa_edges(spark, sf_dir), max_depth=4)


def q_kg_fastrp(spark, sf_dir):
    """FastRP structural node embeddings over the co-occurrence graph
    (hash-Rademacher init, 3 neighbor-mean + L2-normalize levels,
    weighted sum) — the no-GNN embedding export."""
    return q.fastrp_embeddings(
        _kg_cooccur_und(spark, sf_dir), dims=8, weights=(0.3, 0.5, 1.0)
    )


def q_kg_harmonic(spark, sf_dir):
    """Sampled-source hop-bounded harmonic centrality from the PPR
    seed entities — which concepts are CLOSE to the seed neighborhood
    (the disconnected-graph-safe closeness; forward half of the
    Brandes machinery, so it shares kg_betweenness's BFS shape and
    (eps, delta) sampling note)."""
    return q.harmonic_sampled(
        _kg_cooccur_und(spark, sf_dir), _ppr_seeds(), max_hops=4, top_k=20
    )


def q_kg_scc(spark, sf_dir):
    """Strongly connected components over the DIRECTED concept
    precedence graph: within each chunk, order concepts by first
    surface position (ties by concept_id) and draw an edge from each
    concept to its successor — "A is introduced before B".  Opposite
    orderings across chunks create cycles, and the SCCs are the
    mutually-preceding concept cores (the directed structure the
    undirected co-occurrence view cannot see; kg_hits ranks this
    graph's DAG condensation, scc exposes its cyclic cores).  The
    canonical-ordering triple graph (subj_id < obj_id by
    construction, operators/cooccur.py R1) is acyclic by design, so
    precedence is the pipeline's natural cyclic directed view."""
    return _scc_labels(spark, sf_dir)


def _precedence(spark, sf_dir):
    """Session-staged precedence edge relation — kg_scc,
    kg_triad_census and kg_bowtie each re-derived the mentions-join +
    window chain per invocation (the ``_staged`` pattern; (src_id,
    dst_id) strings round-trip parquet exactly)."""
    return _staged(
        spark, sf_dir, "kg_precedence", lambda: _precedence_edges(spark, sf_dir)
    )


def _scc_labels(spark, sf_dir):
    """Session-staged SCC labels of the precedence graph — kg_scc and
    kg_bowtie (whose CORE is the largest SCC) each re-ran the full
    trim/color/mark peeling loop per invocation."""
    return _staged(
        spark, sf_dir, "kg_scc_labels", lambda: q.scc(_precedence(spark, sf_dir))
    )


def _precedence_edges(spark, sf_dir):
    """Directed concept precedence edges: first-occurrence order of
    concepts within each chunk (min surface position, concept_id tie
    break), LAG successor pairs, deduplicated."""
    enriched = _enriched(spark, sf_dir)
    mentions = cf.mentions_from(enriched)
    firstpos = (
        mentions.join(enriched.select("chunk_id", "text"), "chunk_id")
        .select(
            "chunk_id",
            "concept_id",
            F.expr("instr(text, surface)").alias("pos"),
        )
        .groupBy("chunk_id", "concept_id")
        .agg(F.min("pos").alias("pos"))
    )
    w = Window.partitionBy("chunk_id").orderBy("pos", "concept_id")
    return (
        firstpos.withColumn("prev", F.lag("concept_id").over(w))
        .where(F.col("prev").isNotNull() & (F.col("prev") != F.col("concept_id")))
        .select(F.col("prev").alias("src_id"), F.col("concept_id").alias("dst_id"))
        .distinct()
    )


def q_kg_triad_census(spark, sf_dir):
    """Directed triad census (transitive / pure-cyclic / open-wedge
    counts) over the precedence graph, built entirely on the motif
    pattern compiler (plans/motifs.find) — transitivity ratio is the
    closure-evidence statistic for the KG, and the open-wedge count
    is exactly the candidate pool kg_link_prediction scores."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import motifs

    return motifs.triad_census(_precedence(spark, sf_dir))


def q_kg_eccentricity(spark, sf_dir):
    """Sampled eccentricity lower bounds from the PPR seed entities
    (iFUB-style bounding: ecc(v) >= max sampled-source distance; the
    column max doubles as a diameter lower bound).  Shares the
    multi-source BFS with kg_harmonic / kg_betweenness."""
    return q.eccentricity_sampled(
        _kg_cooccur_und(spark, sf_dir), _ppr_seeds(), max_hops=6, top_k=20
    )


def q_kg_bowtie(spark, sf_dir):
    """Bow-tie decomposition (Broder et al. WWW 2000) of the directed
    concept precedence graph (the same cyclic view kg_scc labels):
    CORE / IN / OUT / TUBES / TENDRILS / DISCONNECTED node counts —
    the crawl-health macro-shape histogram."""
    return q.bowtie(
        _precedence(spark, sf_dir), labels=_scc_labels(spark, sf_dir)
    )


def q_kg_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) over the concept co-occurrence
    graph at log2 degree thresholds — do the hub concepts wire to each
    other (link-exchange cartel) or act as independent portals."""
    return q.rich_club(_kg_cooccur_und(spark, sf_dir))


def q_kg_squares(spark, sf_dir):
    """4-cycle (square) count over the concept co-occurrence graph —
    the bipartite-core signal behind link-farm / mirror-cluster
    detection.  Exact on the deg<=64 subgraph (all four corners
    capped: the documented hub restriction that keeps both the wedge
    self-join bounded AND the count-each-square-twice /2 exact)."""
    return q.squares_count(_kg_cooccur_und(spark, sf_dir), max_degree=64)


def q_kg_distance_distribution(spark, sf_dir):
    """Sampled hop-distance distribution + 90th-percentile effective
    diameter (ANF / HyperANF neighbourhood function) from the PPR seed
    entities.  Shares the multi-source BFS with kg_eccentricity /
    kg_harmonic; the effective-diameter flag is decided in pure BIGINT
    arithmetic so the verdict is engine-exact."""
    return q.distance_distribution(
        _kg_cooccur_und(spark, sf_dir), _ppr_seeds(), max_hops=6
    )


def _svo_docs(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", _svo_text_col().alias("text"))


def _svo_frames(spark, sf_dir):
    """Session-staged SVO pattern-frame matches — kg_svo_triples and
    kg_svo_linked each re-ran the full regex frame scan per
    invocation (the ``_staged`` pattern; (id, predicate, subj, obj)
    longs/strings round-trip parquet exactly)."""
    return _staged(
        spark, sf_dir, "kg_svo_frames",
        lambda: openie.svo_extract(_svo_docs(spark, sf_dir)),
    )


def q_kg_svo_triples(spark, sf_dir):
    """OpenIE-style pattern-frame (subj, pred, obj) extraction
    (functions/openie.py — the north-star's OpenIE stage; relation
    inventory == the reference's edge types, RelationScorer.scala:
    129-152).  Pure Catalyst regexp map stage + ONE aggregation
    shuffle on (predicate, subj, obj); frames fire organically on the
    cased corpus (CASE_RULES inject is-a/part-of/causes) plus a
    deterministic planted tail that exercises SYNONYM_OF."""
    return openie.svo_aggregate(
        _svo_frames(spark, sf_dir)
    ).orderBy("predicate", "subj", "obj")


def q_kg_svo_linked(spark, sf_dir):
    """SVO triples entity-linked against the concept vocabulary with
    full-lemma -> head-token backoff (openie.link_heads): the
    north-star's "candidate entity-link scoring against an alias
    dictionary broadcast as a Bloom-filter-backed lookup" — the
    vocabulary Bloom gate prunes the match stream BEFORE any join,
    false positives die in the exact broadcast join, and only triples
    with BOTH ends resolved survive."""
    svo = _svo_frames(spark, sf_dir)
    vocab = _mentions(spark, sf_dir).select("lemma", "concept_id")
    return openie.linked_triples(svo, vocab).orderBy(
        "predicate", "subj_id", "obj_id"
    )


def q_kg_wl_labels(spark, sf_dir):
    """Weisfeiler-Lehman color refinement over the co-occurrence
    concept graph (queries.wl_labels, 3 rounds, sum-multiset-hash):
    the structural-role feature of the WL graph kernel / GIN bound —
    nodes share a label iff 1-WL cannot tell their 3-hop
    neighborhoods apart."""
    return (
        q.wl_labels(_kg_cooccur_und(spark, sf_dir), iters=3)
        .withColumnRenamed("id", "concept_id")
        .orderBy("concept_id")
    )


def q_kg_densest_subgraph(spark, sf_dir):
    """Approximate densest subgraph by parallel (1+eps) peeling
    (queries.densest_subgraph, Bahmani et al. 2012): the dense
    nucleus of the concept co-occurrence graph — the entity cluster a
    global-search summarizer drills into first and the classic
    boilerplate signature in a web-crawl entity graph.  Best-of-first-
    8-iterates at eps=0.1 (gentle peeling — on this graph the round-1
    iterate is a 34-node nucleus strictly denser than the full graph);
    per round ONE degree agg + 1-row stats collect + a survivor
    semi-join."""
    return q.densest_subgraph(
        _kg_cooccur_und(spark, sf_dir), eps=0.1, max_rounds=8
    )


def _forest_max(spark, sf_dir):
    """Session-staged maximum spanning forest of the weighted
    co-occurrence graph — kg_spanning_forest and kg_graph_coloring
    each re-ran the full Borůvka loop per invocation (the ``_staged``
    pattern; (a_id, b_id, w) strings/longs round-trip parquet
    exactly)."""
    def build():
        pairs = q_kg_pairs(spark, sf_dir)
        w = pairs.groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("w"))
        return q.spanning_forest(w, weight_col="w", mode="max")

    return _staged(spark, sf_dir, "kg_forest_max", build)


def q_kg_spanning_forest(spark, sf_dir):
    """Maximum-weight spanning forest (queries.spanning_forest,
    Borůvka): the Chow-Liu-style strongest-association backbone of
    the weighted co-occurrence concept graph — what a summarizer
    keeps when thinning 10^11 candidate edges to O(n).  Strict total
    order (-w, a_id, b_id) makes the forest unique, so the unrolled
    Borůvka oracle must agree hash-exactly."""
    return _forest_max(spark, sf_dir).orderBy("a_id", "b_id")


def q_kg_graph_coloring(spark, sf_dir):
    """Jones-Plassmann coloring (queries.graph_coloring) of the
    max-spanning-forest backbone: color classes share no edge, so
    per-color waves of entity-merge/upsert operations are
    conflict-free — the classic parallel-scheduling use.  The
    backbone (not the raw co-occurrence graph) is the driver target
    because JP is priority-sequential inside a clique and the window
    co-occurrence graph has ~35-node cliques (measured 33-40 rounds);
    the forest converges in <=8 rounds at both SFs, which the oracle
    unrolls (10 rounds = fixpoint + slack; extras no-op).  The full
    general-graph path is pytest-pinned against a pure-Python JP
    simulation (tests/test_graph_queries.py)."""
    forest = _forest_max(spark, sf_dir)
    und = forest.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")
    ).unionByName(
        forest.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"))
    )
    return (
        q.graph_coloring(und, max_rounds=12)
        .select("id", F.col("color").cast("long").alias("color"))
        .orderBy("id")
    )


def q_kg_maximal_matching(spark, sf_dir):
    """Greedy-equivalent maximal matching (queries.maximal_matching)
    over the distinct co-occurrence pair edges: the conflict-free
    pairwise entity-merge wave — each concept fuses with at most one
    partner per pass.  Static md5 edge priorities make the parallel
    local-min rounds equal the sequential greedy (Luby-style
    argument), pytest-pinned; the oracle unrolls 8 rounds (fixpoint
    <= 6 at both SFs, extras no-op)."""
    pairs = q_kg_pairs(spark, sf_dir).select("a_id", "b_id").distinct()
    return q.maximal_matching(pairs).orderBy("a_id", "b_id")


def q_kg_centralization(spark, sf_dir):
    """Freeman degree centralization of the co-occurrence graph
    (queries.degree_centralization): 1.0 = one mega-hub (salt THAT
    key), 0.0 = regular mesh.  Exact-integer aggregates, one
    in-engine division; completes the structure-scalar trio with
    assortativity and reciprocity."""
    return q.degree_centralization(_kg_cooccur_und(spark, sf_dir))


def q_kg_reciprocity(spark, sf_dir):
    """Directed-triple reciprocity (queries.reciprocity): fraction of
    (subj -> obj) facts also asserted in reverse — mutual is_a pairs
    are synonym candidates, reciprocal causes edges flag extraction
    noise.  Exact-integer aggregates, one in-engine division."""
    t = _triples(spark, sf_dir)
    return q.reciprocity(
        t.select(F.col("subj_id").alias("src_id"), F.col("obj_id").alias("dst_id"))
    )


def q_kg_vertex_cover(spark, sf_dir):
    """2-approximate minimum vertex cover (queries.vertex_cover =
    both endpoints of the greedy-equivalent maximal matching): the
    smallest reviewable entity set touching every candidate-duplicate
    pair.  Inherits the matching's determinism; oracle = the matching
    unroll with an endpoints-union final select."""
    pairs = q_kg_pairs(spark, sf_dir).select("a_id", "b_id").distinct()
    return q.vertex_cover(pairs)


def q_kg_label_spreading(spark, sf_dir):
    """Semi-supervised label spreading (queries.label_spreading) from
    the 5 most-mentioned concepts (each seeding its own id as the
    label, clamped): geodesic seed-Voronoi typing with majority
    tie-breaks, monotone frontier — no oscillation by construction.
    (id, label, round) with round = BFS distance to the winning
    seed."""
    und = _kg_cooccur_und(spark, sf_dir)
    seeds = (
        q_kg_mentions(spark, sf_dir)
        .groupBy("concept_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "concept_id")
        .limit(5)
        .select(
            F.col("concept_id").alias("id"), F.col("concept_id").alias("label")
        )
    )
    return q.label_spreading(und, seeds, iters=5)


def q_kg_assortativity(spark, sf_dir):
    """Degree assortativity of the co-occurrence concept graph
    (queries.degree_assortativity — Newman 2002 r over edge stubs):
    the one-scalar answer to "do hub concepts co-occur with other
    hubs?", i.e. whether join skew on this graph compounds.  Every
    aggregate is an exact integer (or exact multiple of 0.5) until
    the single final division, so the value is bit-identical across
    engines and partitionings."""
    return q.degree_assortativity(_kg_cooccur_und(spark, sf_dir))


def q_kg_katz(spark, sf_dir):
    """Katz centrality over the DIRECTED triple graph
    (queries.katz_centrality, alpha=0.1, beta=1, 8 truncated rounds):
    total attenuated path-count support per concept — unlike
    PageRank it does not divide by out-degree, so prolific subjects
    do not dilute the evidence they contribute, and unlike HITS the
    base beta keeps isolated-but-mentioned concepts on the scale."""
    t = _triples(spark, sf_dir)
    return q.katz_centrality(
        t.select(F.col("subj_id").alias("src_id"), F.col("obj_id").alias("dst_id")),
        alpha=0.1,
        beta=1.0,
        iters=8,
        top_k=20,
    )


def q_kg_extraction_yield(spark, sf_dir):
    """Per-chunk extraction QA: mention/concept yield normalized per
    1000 chars — the over/under-extraction audit a KG build reviews
    before trusting a new corpus slice (feeds the same review queue as
    kg_peripheral_concepts, from the chunk side)."""
    m = q_kg_mentions(spark, sf_dir)
    ch = _chunks(spark, sf_dir).select(
        "chunk_id", F.length("text").cast("long").alias("n_chars")
    )
    per = m.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.count_distinct("concept_id").alias("n_concepts"),
    )
    return (
        ch.join(per, "chunk_id", "left")
        .select(
            "chunk_id",
            "n_chars",
            F.coalesce("n_mentions", F.lit(0)).cast("long").alias("n_mentions"),
            F.coalesce("n_concepts", F.lit(0)).cast("long").alias("n_concepts"),
            F.round(
                F.coalesce("n_mentions", F.lit(0)) * F.lit(1000.0) / F.col("n_chars"),
                6,
            ).alias("mentions_per_kchar"),
        )
        .orderBy("chunk_id")
    )


def q_kg_concept_drift(spark, sf_dir):
    """Per-source concept-distribution KL from the corpus — the KG
    twin of a token-stream source drift: which sources skew the GRAPH.  Same closed-form smoothed-KL core
    (curation.kl_divergence_from_counts) over (source, concept_id)
    mention counts; top-256 coarsened alphabet."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import curation

    m = q_kg_mentions(spark, sf_dir).select(
        "chunk_id", F.col("concept_id").alias("term")
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("chunk_id"), "source"
    )
    st = (
        m.join(d, "chunk_id")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = curation.kl_divergence_from_counts(st, top_v=256)
    return out.select(
        "source",
        F.col("n_tokens").alias("n_mentions"),
        F.col("n_terms_seen").alias("n_concepts_seen"),
        "kl_corpus",
    )


def q_kg_predicate_conflicts(spark, sf_dir):
    """Contradiction census over the triple store: (subj, obj) pairs
    asserted under MORE THAN ONE predicate (is_a in one chunk, part_of
    in another...) — the KG-QA review queue an ontology curator works
    before trusting downstream reasoning.  Predicate disagreement is
    evidence-driven (scorer._verdict keys on the chunk text), so the
    census localizes genuinely ambiguous pairs, not extractor noise.
    One (subj, obj) hash agg over the triples relation; the sorted
    comma-joined predicate list keeps the row hashable cross-engine."""
    t = _triples(spark, sf_dir)
    return (
        t.groupBy("subj_id", "obj_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assertions"),
            F.count_distinct("predicate").cast("long").alias("n_predicates"),
            F.array_join(F.array_sort(F.collect_set("predicate")), ",").alias(
                "predicates"
            ),
            F.round(F.max("confidence"), 6).alias("max_confidence"),
        )
        .where(F.col("n_predicates") >= 2)
        .orderBy("subj_id", "obj_id")
    )


def q_kg_triple_support(spark, sf_dir):
    """Assertion-support census: how many DISTINCT chunks assert each
    (subj, pred, obj) triple, histogrammed per predicate — the KG
    trust panel (support-1 triples are single-witness extractions a
    curator samples; high-support triples are corpus-confirmed).  Two
    narrow hash aggs: (triple)-keyed distinct-chunk count, then a
    (predicate, support) re-agg — nothing wider than ids shuffles."""
    t = _triples(spark, sf_dir)
    sup = t.groupBy("subj_id", "predicate", "obj_id").agg(
        F.count_distinct("chunk_id").cast("long").alias("support")
    )
    return (
        sup.groupBy("predicate", "support")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triples"))
        .orderBy("predicate", "support")
    )


def q_kg_evidence_freshness(spark, sf_dir):
    """Per-predicate evidence-staleness panel for the incremental
    regime: over distinct (triple, chunk) assertions, each triple's
    FRESHEST supporting chunk, then per predicate the mean/max
    staleness (crawl-minutes behind the corpus head, using the
    deterministic warc_ts ramp = epoch + doc_id) and the share of
    triples whose freshest evidence is older than 2 minutes of crawl
    — the "which relation types are going stale" monitor a refresh
    scheduler reads next to kg_graph_growth.

    Scale shape: triple-keyed MAX agg + predicate-keyed re-agg (the
    kg_triple_support shuffle profile); the corpus head is one
    bounded 1-row aggregate folded as a literal."""
    t = _triples(spark, sf_dir)
    fresh = t.groupBy("subj_id", "predicate", "obj_id").agg(
        F.max(F.col("chunk_id").cast("long")).alias("latest")
    )
    head = fresh.agg(F.max("latest").alias("h")).collect()[0]["h"]
    # integer age-seconds aggregated exactly; ONE division per output
    # column keeps the doubles bit-identical cross-engine
    age = fresh.select(
        "predicate", (F.lit(head) - F.col("latest")).alias("age_sec")
    )
    return (
        age.groupBy("predicate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum("age_sec").alias("_sum_sec"),
            F.max("age_sec").alias("_max_sec"),
            F.sum(F.when(F.col("age_sec") > 120, 1).otherwise(0)).alias("_stale"),
        )
        .select(
            "predicate",
            "n_triples",
            F.round(
                F.col("_sum_sec") / (F.lit(60.0) * F.col("n_triples")), 6
            ).alias("avg_age_min"),
            F.round(F.col("_max_sec") / F.lit(60.0), 6).alias("max_age_min"),
            F.round(
                F.col("_stale").cast("double") / F.col("n_triples"), 6
            ).alias("stale_share"),
        )
        .orderBy("predicate")
    )


def q_kg_source_reliability(spark, sf_dir):
    """Per-source trust panel: of the distinct triples each source
    asserts, how many are CORROBORATED corpus-wide (supported by >= 2
    distinct chunks) — the provenance-quality ranking that tells a
    curator which sources mostly contribute single-witness claims.
    Composes the kg_triple_support census with the chunk->source map:
    triple-keyed support agg, a chunk->source broadcast-shaped join,
    then a source-keyed re-agg — ids only, nothing wide shuffles."""
    t = _triples(spark, sf_dir)
    sup = t.groupBy("subj_id", "predicate", "obj_id").agg(
        F.count_distinct("chunk_id").cast("long").alias("support")
    )
    ta = t.select("chunk_id", "subj_id", "predicate", "obj_id").distinct()
    src = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("chunk_id"), "source"
    )
    j = (
        ta.join(src, "chunk_id")
        .join(sup, ["subj_id", "predicate", "obj_id"])
        .select("source", "subj_id", "predicate", "obj_id", "support")
        .distinct()
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum(F.when(F.col("support") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("corroborated"),
        )
        .select(
            "source",
            "n_triples",
            "corroborated",
            F.round(
                F.col("corroborated").cast("double") / F.col("n_triples"), 6
            ).alias("corroboration_rate"),
        )
        .orderBy("source")
    )


def q_kg_concept_roles(spark, sf_dir):
    """Per-concept ROLE profile over the triple store: how often it
    asserts (subject) vs is asserted about (object), how many distinct
    partners and predicates it touches — the hub-taxonomy census that
    separates schema-like concepts (high in-degree is_a targets) from
    narrative entities (balanced roles), read before choosing
    canonicalization survivors or query-expansion anchors.  Canonical
    pair ordering makes the triple graph a DAG on ids, so role
    asymmetry here is REAL signal about each concept's position.  One
    union + one (concept)-keyed hash agg + a broadcast lemma join."""
    t = _triples(spark, sf_dir)
    roles = t.select(
        F.col("subj_id").alias("concept_id"),
        F.lit(1).alias("as_subj"),
        F.lit(0).alias("as_obj"),
        "predicate",
        F.col("obj_id").alias("partner"),
    ).unionByName(
        t.select(
            F.col("obj_id").alias("concept_id"),
            F.lit(0).alias("as_subj"),
            F.lit(1).alias("as_obj"),
            "predicate",
            F.col("subj_id").alias("partner"),
        )
    )
    prof = roles.groupBy("concept_id").agg(
        F.sum("as_subj").cast("long").alias("n_as_subj"),
        F.sum("as_obj").cast("long").alias("n_as_obj"),
        F.count_distinct("partner").cast("long").alias("n_partners"),
        F.count_distinct("predicate").cast("long").alias("n_predicates"),
    )
    lem = (
        q_kg_mentions(spark, sf_dir)
        .groupBy("concept_id")
        .agg(F.min("lemma").alias("lemma"))
    )
    return (
        prof.join(F.broadcast(lem), "concept_id", "left")
        .select(
            "concept_id", "lemma", "n_as_subj", "n_as_obj",
            "n_partners", "n_predicates",
        )
        .orderBy("concept_id")
    )


def q_kg_simrank(spark, sf_dir):
    """SimRank top-50 over the co-occurrence concept graph (c=0.8, 2
    iterations): similar-because-neighbours-are-similar — surfaces
    structurally-equivalent concepts sharing NO direct edge, the
    signal CN/jaccard link prediction can't see.  Vocab-bound dense
    pair state by design (open-vocab alternative: kg_fastrp_neighbors)."""
    pairs = q_kg_pair_freq(spark, sf_dir).select("a_id", "b_id")
    return q.simrank(pairs, c=0.8, iters=2, top_k=50)


def q_kg_confidence_calibration(spark, sf_dir):
    """Confidence-calibration census: per (predicate, confidence
    level), how many assertions exist and how many DISTINCT triples
    they collapse to — assertions-per-triple read across confidence
    levels answers "does the scorer's confidence actually track
    corpus support?", the QA read next to kg_triple_support."""
    t = _triples(spark, sf_dir)
    return (
        t.groupBy("predicate", "confidence")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assertions"),
            F.count_distinct("subj_id", "obj_id").cast("long").alias("n_triples"),
        )
        .select(
            "predicate",
            "confidence",
            "n_assertions",
            "n_triples",
            F.round(F.col("n_assertions") / F.col("n_triples"), 6).alias(
                "assertions_per_triple"
            ),
        )
        .orderBy("predicate", "confidence")
    )


def q_kg_attack_tolerance(spark, sf_dir):
    """Targeted-attack robustness curve: fragmentation of the concept
    graph after removing the top-0/5/20 hubs — how much KG
    connectivity hangs off a handful of hub concepts (scale-free
    graphs shatter under this, stay robust to random failure)."""
    pairs = q_kg_pair_freq(spark, sf_dir).select("a_id", "b_id")
    return q.attack_tolerance(pairs, ks=(0, 5, 20))


def q_kg_rpq_reachability(spark, sf_dir):
    """Regular path query is_a*/part_of (SPARQL property-path shape):
    which categories each concept is PART OF, including through its
    is_a ancestors — the subsumption-aware typed-edge expansion a KG
    retriever needs; closure + one equi-join, no query-time
    recursion."""
    return q.property_path(
        _triples(spark, sf_dir), star_pred="is_a", final_pred="part_of", max_star=4
    )


def q_kg_wu_palmer(spark, sf_dir):
    """Wu-Palmer taxonomy similarity top-50: 2*d(lcs)/(d(a)+d(b))
    over the extracted is_a DAG — hierarchy-native closeness,
    independent of co-occurrence (kg_pmi) or neighbourhood shape
    (kg_simrank)."""
    return q.wu_palmer_similarity(_isa_edges(spark, sf_dir), max_depth=4, top_k=50)


def q_kg_alias_census(spark, sf_dir):
    """Alias-dictionary audit: per concept, how many DISTINCT surface
    forms and extraction origins collapse into it (plus mention/chunk
    mass) — the census an entity-linking alias table is built from
    and reviewed against (a concept with many surfaces is a linking
    hub; one surface per concept means the lemma normalizer is doing
    nothing).  One (concept)-keyed hash agg over the mention table."""
    m = q_kg_mentions(spark, sf_dir)
    return (
        m.groupBy("concept_id")
        .agg(
            F.min("lemma").alias("lemma"),
            F.count_distinct("surface").cast("long").alias("n_surfaces"),
            F.count_distinct("origin").cast("long").alias("n_origins"),
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.count_distinct("chunk_id").cast("long").alias("n_chunks"),
        )
        .orderBy("concept_id")
    )


def q_kg_typed_triangles(spark, sf_dir):
    """Closed typed-triangle census (rel1, rel2, rel3): metapath
    composition WITH the consequence edge — which relation
    compositions actually close (taxonomy redundancy, causal
    inheritance) vs compose-but-never-close (inference
    opportunities).  Capped-mid guard shared with kg_metapath_counts."""
    return q.typed_triangle_census(_triples(spark, sf_dir), max_degree=128)


def q_kg_landmark_distances(spark, sf_dir):
    """Landmark distance-oracle build + quality eval in one pass:
    4 md5-drawn landmarks, 10 sample endpoints, one multi-source BFS;
    stretch = est/exact per sample pair (1.0 = landmark on a shortest
    path, NULL = coverage gap)."""
    pf = q_kg_pair_freq(spark, sf_dir)
    und = pf.select(
        F.col("a_id").alias("cid"), F.col("b_id").alias("nbr_id")
    ).unionByName(
        pf.select(F.col("b_id").alias("cid"), F.col("a_id").alias("nbr_id"))
    )
    return q.landmark_distance_eval(und, n_landmarks=4, n_samples=10, max_hops=4)


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction -> pair graph -> Q2 concept search on
    sf0.001."""
    return q_kg_concept_search(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_mentions": q_kg_mentions,
        "kg_mentions_nlp": q_kg_mentions_nlp,
        "kg_cooccur_pairs": q_kg_pairs,
        "kg_pair_freq": q_kg_pair_freq,
        "kg_pmi": q_kg_pmi,
        "kg_triples": q_kg_triples,
        "kg_edge_histogram": q_kg_edge_histogram,
        "kg_concept_search": q_kg_concept_search,
        "kg_evidence": q_kg_evidence,
        "kg_neighbors": q_kg_neighbors,
        "kg_group_results": q_kg_group_results,
        "kg_neighbors_2hop": q_kg_neighbors_2hop,
        "kg_text_search": q_kg_text_search,
        "kg_bfs": q_kg_bfs,
        "kg_pagerank": q_kg_pagerank,
        "kg_connected_components": q_kg_connected_components,
        "kg_communities": q_kg_communities,
        "kg_community_report": q_kg_community_report,
        "kg_global_search": q_kg_global_search,
        "kg_local_search": q_kg_local_search,
        "kg_drift_search": q_kg_drift_search,
        "kg_personalized_pagerank": q_kg_personalized_pagerank,
        "kg_context_pack": q_kg_context_pack,
        "kg_node2vec": q_kg_node2vec,
        "kg_random_walks": q_kg_random_walks,
        "kg_link_prediction": q_kg_link_prediction,
        "kg_node_features": q_kg_node_features,
        "kg_path_between": q_kg_path_between,
        "kg_hits": q_kg_hits,
        "kg_entity_resolution": q_kg_entity_resolution,
        "kg_text_bm25": q_kg_text_bm25,
        "kg_hybrid_search": q_kg_hybrid_search,
        "kg_community_hierarchy": q_kg_community_hierarchy,
        "kg_triangles": q_kg_triangles,
        "kg_related_concepts": q_kg_related_concepts,
        "kg_neighbor_sample": q_kg_neighbor_sample,
        "kg_coreness": q_kg_coreness,
        "kg_skipgram_pairs": q_kg_skipgram_pairs,
        "kg_contrastive_pairs": q_kg_contrastive_pairs,
        "kg_graph_stats": q_kg_graph_stats,
        "kg_int_encode": q_kg_int_encode,
        "kg_adamic_adar": q_kg_adamic_adar,
        "kg_shortest_paths": q_kg_shortest_paths,
        "kg_fastrp": q_kg_fastrp,
        "kg_taxonomy_closure": q_kg_taxonomy_closure,
        "kg_taxonomy_rollup": q_kg_taxonomy_rollup,
        "kg_betweenness": q_kg_betweenness,
        "kg_ego_subgraph": q_kg_ego_subgraph,
        "kg_incremental_communities": q_kg_incremental_communities,
        "kg_modularity": q_kg_modularity,
        "kg_communities_weighted": q_kg_communities_weighted,
        "kg_conductance": q_kg_conductance,
        "kg_fastrp_neighbors": q_kg_fastrp_neighbors,
        "kg_degree_distribution": q_kg_degree_distribution,
        "kg_ktruss": q_kg_ktruss,
        "kg_harmonic": q_kg_harmonic,
        "kg_scc": q_kg_scc,
        "kg_triad_census": q_kg_triad_census,
        "kg_pagerank_weighted": q_kg_pagerank_weighted,
        "kg_independent_set": q_kg_independent_set,
        "kg_eccentricity": q_kg_eccentricity,
        "kg_distance_distribution": q_kg_distance_distribution,
        "kg_squares": q_kg_squares,
        "kg_rich_club": q_kg_rich_club,
        "kg_bowtie": q_kg_bowtie,
        "kg_source_overlap": q_kg_source_overlap,
        "kg_svo_triples": q_kg_svo_triples,
        "kg_svo_linked": q_kg_svo_linked,
        "kg_wl_labels": q_kg_wl_labels,
        "kg_densest_subgraph": q_kg_densest_subgraph,
        "kg_assortativity": q_kg_assortativity,
        "kg_katz": q_kg_katz,
        "kg_vertex_cover": q_kg_vertex_cover,
        "kg_label_spreading": q_kg_label_spreading,
        "kg_reciprocity": q_kg_reciprocity,
        "kg_centralization": q_kg_centralization,
        "kg_topo_layers": q_kg_topo_layers,
        "kg_graph_sparsify": q_kg_graph_sparsify,
        "kg_dag_paths": q_kg_dag_paths,
        "kg_egonet_anomaly": q_kg_egonet_anomaly,
        "kg_related_chunks": q_kg_related_chunks,
        "kg_spam_mass": q_kg_spam_mass,
        "kg_typed_degrees": q_kg_typed_degrees,
        "kg_metapath_counts": q_kg_metapath_counts,
        "kg_community_bridges": q_kg_community_bridges,
        "kg_peripheral_concepts": q_kg_peripheral_concepts,
        "kg_extraction_yield": q_kg_extraction_yield,
        "kg_concept_drift": q_kg_concept_drift,
        "kg_predicate_conflicts": q_kg_predicate_conflicts,
        "kg_triple_support": q_kg_triple_support,
        "kg_concept_roles": q_kg_concept_roles,
        "kg_simrank": q_kg_simrank,
        "kg_confidence_calibration": q_kg_confidence_calibration,
        "kg_attack_tolerance": q_kg_attack_tolerance,
        "kg_rpq_reachability": q_kg_rpq_reachability,
        "kg_wu_palmer": q_kg_wu_palmer,
        "kg_alias_census": q_kg_alias_census,
        "kg_typed_triangles": q_kg_typed_triangles,
        "kg_landmark_distances": q_kg_landmark_distances,
        "kg_eigenvector": q_kg_eigenvector,
        "kg_graph_growth": q_kg_graph_growth,
        "kg_tie_strength": q_kg_tie_strength,
        "kg_source_reliability": q_kg_source_reliability,
        "kg_evidence_freshness": q_kg_evidence_freshness,
        "kg_spanning_forest": q_kg_spanning_forest,
        "kg_graph_coloring": q_kg_graph_coloring,
        "kg_maximal_matching": q_kg_maximal_matching,
    }

def oracle_sql() -> dict[str, str]:
    # kg_pagerank: the 10 power iterations of plans/queries.pagerank_und
    # unrolled as chained CTEs.  (1.0 - 0.85) is written as the same
    # double SUBTRACTION the Spark driver performs (≠ a 0.15 literal in
    # the last ulp); round(…, 8) absorbs sum-order noise.
    _pr_iters = "".join(
        f""",
c{k} AS (SELECT u.nbr_id AS id, SUM(r.rank / dg.deg) AS inflow
         FROM und u JOIN r{k - 1} r ON u.cid = r.id JOIN deg dg ON dg.cid = u.cid
         GROUP BY u.nbr_id),
r{k} AS (SELECT n.id, ((1.0 - 0.85) / nn.n) + 0.85 * COALESCE(c.inflow, 0.0) AS rank
         FROM nodes n CROSS JOIN nn LEFT JOIN c{k} c ON c.id = n.id)"""
        for k in range(1, 11)
    )

    # kg_communities / kg_community_report: the 5 synchronous LPA
    # voting rounds of plans/queries.label_propagation unrolled as
    # chained CTEs — ROW_NUMBER(ORDER BY c DESC, label) rn=1 is the
    # same argmax as Spark's min(struct(-c, label)).
    def _lpa_cte(prefix: str, edges: str, vote: str = "COUNT(*)") -> str:
        """Chained-CTE unroll of one 5-round synchronous LPA pass over
        edge CTE ``edges`` (cols cid, nbr_id[, w]); ``vote`` is the
        ballot aggregate (COUNT(*) unweighted, SUM(u.w) weighted)."""
        rounds = "".join(
            f""",
{prefix}v{k} AS (SELECT u.cid AS id, l.label, {vote} AS c
         FROM {edges} u JOIN {prefix}l{k - 1} l ON u.nbr_id = l.id GROUP BY u.cid, l.label),
{prefix}l{k} AS (SELECT id, label FROM (
           SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
           FROM {prefix}v{k}) WHERE rn = 1)"""
            for k in range(1, 6)
        )
        return (
            f"{prefix}l0 AS (SELECT DISTINCT cid AS id, cid AS label FROM {edges})"
            + rounds
        )

    _lpa_base = f"""und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
{_lpa_cte("", "und")}"""
    _communities_sql = f"""WITH {PAIRS_CTE},
{_lpa_base}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l5 GROUP BY label HAVING COUNT(*) >= 2
ORDER BY n_members DESC, community LIMIT 50"""
    _community_report_sql = f"""WITH {PAIRS_CTE},
{_lpa_base},
sizes AS (SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM l5 GROUP BY label HAVING COUNT(*) >= 2
          ORDER BY n_members DESC, community LIMIT 10),
mcounts AS (SELECT concept_id, lemma, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM mentions GROUP BY concept_id, lemma),
ranked AS (SELECT s.community, s.n_members, c.concept_id, c.lemma, c.n_mentions,
                  ROW_NUMBER() OVER (PARTITION BY s.community
                                     ORDER BY c.n_mentions DESC, c.lemma, c.concept_id) AS rank
           FROM mcounts c JOIN l5 l ON c.concept_id = l.id
           JOIN sizes s ON l.label = s.community)
SELECT community, n_members, rank, concept_id, lemma, n_mentions
FROM ranked WHERE rank <= 5 ORDER BY n_members DESC, community, rank"""
    _global_search_sql = f"""WITH {PAIRS_CTE},
{_lpa_base},
mcounts AS (SELECT concept_id, lemma, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM mentions WHERE contains(lemma, 'a')
            GROUP BY concept_id, lemma),
sizes AS (SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM l5 GROUP BY label),
matched AS (SELECT l.label AS community, c.lemma, c.n_mentions,
                   ROW_NUMBER() OVER (PARTITION BY l.label
                                      ORDER BY c.n_mentions DESC, c.lemma) AS rn
            FROM mcounts c JOIN l5 l ON c.concept_id = l.id),
scored AS (SELECT community,
                  CAST(SUM(n_mentions) AS BIGINT) AS score,
                  CAST(COUNT(*) AS BIGINT) AS n_matched,
                  MAX(CASE WHEN rn = 1 THEN lemma END) AS top_lemma
           FROM matched GROUP BY community)
SELECT s.community, z.n_members, s.score, s.n_matched, s.top_lemma
FROM scored s JOIN sizes z ON s.community = z.community
ORDER BY s.score DESC, s.community LIMIT 10"""
    _hierarchy_sql = f"""WITH {PAIRS_CTE},
{_lpa_base},
contracted AS (SELECT la.label AS cid, lb.label AS nbr_id, COUNT(*) AS w
               FROM und u JOIN l5 la ON u.cid = la.id
               JOIN l5 lb ON u.nbr_id = lb.id
               WHERE la.label <> lb.label GROUP BY la.label, lb.label),
{_lpa_cte("h", "contracted", "SUM(u.w)")}
SELECT l.id, l.label AS label_l0, COALESCE(h.label, l.label) AS label_l1
FROM l5 l LEFT JOIN hl5 h ON l.label = h.id ORDER BY l.id"""
    _tri_ctes = """und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS lo, GREATEST(cid, nbr_id) AS hi
      FROM und WHERE cid <> nbr_id),
deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT lo AS id FROM e UNION ALL SELECT hi FROM e) GROUP BY id),
o AS (SELECT CASE WHEN da.degree <= db.degree THEN e.lo ELSE e.hi END AS src,
             CASE WHEN da.degree <= db.degree THEN e.hi ELSE e.lo END AS dst
      FROM e JOIN deg da ON e.lo = da.id JOIN deg db ON e.hi = db.id),
w AS (SELECT o1.src, o1.dst AS d1, o2.dst AS d2
      FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
t AS (SELECT w.src, w.d1, w.d2 FROM w JOIN e ON w.d1 = e.lo AND w.d2 = e.hi),
corners AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM
            (SELECT src AS id FROM t UNION ALL SELECT d1 FROM t UNION ALL SELECT d2 FROM t)
            GROUP BY id)"""
    _triangles_sql = f"""WITH {PAIRS_CTE},
{_tri_ctes}
SELECT deg.id, deg.degree, COALESCE(c.triangles, 0) AS triangles,
       ROUND(CASE WHEN deg.degree >= 2
                  THEN 2.0 * COALESCE(c.triangles, 0) / (deg.degree * (deg.degree - 1.0))
                  ELSE 0.0 END, 6) AS clustering
FROM deg LEFT JOIN corners c ON deg.id = c.id
ORDER BY triangles DESC, deg.id LIMIT 100"""
    _graph_stats_sql = f"""WITH {PAIRS_CTE},
{_tri_ctes},
per AS (SELECT deg.id, deg.degree, COALESCE(c.triangles, 0) AS triangles
        FROM deg LEFT JOIN corners c ON deg.id = c.id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(degree) / 2 AS BIGINT) AS n_edges,
       CAST(MAX(degree) AS BIGINT) AS max_degree,
       ROUND(AVG(degree), 6) AS avg_degree,
       ROUND(SUM(degree) / (COUNT(*) * (COUNT(*) - 1.0)), 6) AS density,
       CAST(SUM(triangles) / 3 AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN SUM(degree * (degree - 1)) > 0
                  THEN SUM(triangles) / (SUM(degree * (degree - 1)) / 2.0)
                  ELSE 0.0 END, 6) AS global_clustering
FROM per"""
    _related_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
cand AS (SELECT n1.nbr_id AS a, n2.nbr_id AS b, CAST(COUNT(*) AS BIGINT) AS common
         FROM adj n1 JOIN adj n2 ON n1.cid = n2.cid AND n1.nbr_id < n2.nbr_id
         GROUP BY n1.nbr_id, n2.nbr_id HAVING COUNT(*) >= 2),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS a, GREATEST(cid, nbr_id) AS b FROM adj),
nonadj AS (SELECT c.* FROM cand c ANTI JOIN e ON c.a = e.a AND c.b = e.b),
deg AS (SELECT cid AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY cid)
SELECT n.a, n.b, n.common,
       ROUND(n.common / (da.degree + db.degree - n.common), 6) AS jaccard
FROM nonadj n JOIN deg da ON n.a = da.id JOIN deg db ON n.b = db.id
ORDER BY jaccard DESC, n.common DESC, n.a, n.b LIMIT 20"""
    def _ppr_ctes(seed_lemmas: tuple[str, ...]) -> str:
        """Unrolled personalized-PageRank CTE chain (10 iterations) over
        the `pairs` co-occurrence CTE: seeds hashed from lemmas exactly
        like purecore.concept_id, teleport uniform over the present
        seeds, final relation `pr10`."""
        seeds_sql = ", ".join(
            f"substr(sha256('{s}'), 1, 16)" for s in seed_lemmas
        )
        iters = "".join(
            f""",
pc{k} AS (SELECT u.nbr_id AS id, SUM(r.rank / dg.deg) AS inflow
          FROM und u JOIN pr{k - 1} r ON u.cid = r.id JOIN deg dg ON dg.cid = u.cid
          GROUP BY u.nbr_id),
pr{k} AS (SELECT n.id, 0.15 * n.tp + 0.85 * COALESCE(c.inflow, 0.0) AS rank
          FROM tnodes n LEFT JOIN pc{k} c ON c.id = n.id)"""
            for k in range(1, 11)
        )
        return f"""und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
nodes AS (SELECT DISTINCT cid AS id FROM und),
sk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM nodes WHERE id IN ({seeds_sql})),
tnodes AS (SELECT id, CASE WHEN id IN ({seeds_sql}) THEN 1.0 / sk.k ELSE 0.0 END AS tp
           FROM nodes CROSS JOIN sk),
deg AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY cid),
pr0 AS (SELECT id, tp AS rank FROM tnodes){iters}"""

    # kg_spam_mass: joint PR+TrustRank power iteration unrolled — one
    # contribution CTE per round carrying BOTH vectors (mirrors the
    # engine's single-join-per-round shape)
    _sm_seeds = ", ".join(
        f"substr(sha256('{s}'), 1, 16)" for s in _PPR_SEED_LEMMAS
    )
    _sm_iters = "".join(
        f""",
smc{k} AS (SELECT u.nbr_id AS id, SUM(r.pr / d.deg) AS ia, SUM(r.tr / d.deg) AS ib
           FROM und u JOIN smr{k - 1} r ON u.cid = r.id JOIN smdeg d ON d.cid = u.cid
           GROUP BY u.nbr_id),
smr{k} AS (SELECT t.id, 0.15 / nn.n + 0.85 * COALESCE(c.ia, 0.0) AS pr,
                  0.15 * t.tp + 0.85 * COALESCE(c.ib, 0.0) AS tr
           FROM smtn t LEFT JOIN smc{k} c ON c.id = t.id CROSS JOIN smnn nn)"""
        for k in range(1, 11)
    )
    _spam_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
smnodes AS (SELECT DISTINCT cid AS id FROM und),
smnn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM smnodes),
smsk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM smnodes WHERE id IN ({_sm_seeds})),
smtn AS MATERIALIZED (SELECT id, CASE WHEN id IN ({_sm_seeds}) THEN 1.0 / sk.k ELSE 0.0 END AS tp
       FROM smnodes CROSS JOIN smsk sk),
smdeg AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY cid),
smr0 AS (SELECT t.id, 1.0 / nn.n AS pr, t.tp AS tr FROM smtn t CROSS JOIN smnn nn){_sm_iters}
SELECT id, ROUND(pr, 8) AS pagerank, ROUND(tr, 8) AS trustrank,
       ROUND((pr - tr) / pr, 6) AS spam_mass,
       id IN ({_sm_seeds}) AS is_trusted
FROM smr10 ORDER BY id"""

    _drift_ppr_iters = "".join(
        f""",
dpc{k} AS (SELECT u.nbr_id AS id, SUM(r.rank / dg.deg) AS inflow
           FROM und u JOIN dpr{k - 1} r ON u.cid = r.id JOIN ddeg dg ON dg.cid = u.cid
           GROUP BY u.nbr_id),
dpr{k} AS (SELECT n.id, 0.15 * n.tp + 0.85 * COALESCE(c.inflow, 0.0) AS rank
           FROM dtn n LEFT JOIN dpc{k} c ON c.id = n.id)"""
        for k in range(1, 11)
    )
    _drift_sql = f"""WITH {PAIRS_CTE},
{_lpa_base},
mcounts AS (SELECT concept_id, lemma, CAST(COUNT(*) AS BIGINT) AS n_mentions
            FROM mentions WHERE contains(lemma, 'a')
            GROUP BY concept_id, lemma),
gscored AS (SELECT l.label AS community, SUM(c.n_mentions) AS score
            FROM mcounts c JOIN l5 l ON c.concept_id = l.id GROUP BY l.label),
topc AS (SELECT community FROM gscored ORDER BY score DESC, community LIMIT 1),
dseeds AS MATERIALIZED (SELECT DISTINCT c.concept_id AS id
          FROM mcounts c JOIN l5 l ON c.concept_id = l.id
          WHERE l.label = (SELECT community FROM topc)),
dnodes AS (SELECT DISTINCT cid AS id FROM und),
dsk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM dnodes WHERE id IN (SELECT id FROM dseeds)),
dtn AS MATERIALIZED (SELECT n.id, CASE WHEN n.id IN (SELECT id FROM dseeds) THEN 1.0 / s.k ELSE 0.0 END AS tp
       FROM dnodes n CROSS JOIN dsk s),
ddeg AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY cid),
dpr0 AS (SELECT id, tp AS rank FROM dtn){_drift_ppr_iters},
ranked AS (SELECT id, ROUND(rank, 8) AS rank FROM dpr10 WHERE rank > 0
           ORDER BY rank DESC, id LIMIT 20),
dstats AS (SELECT concept_id AS id, MIN(lemma) AS lemma,
                  CAST(COUNT(*) AS BIGINT) AS n_mentions
           FROM mentions GROUP BY concept_id)
SELECT r.id, s.lemma, l.label AS community,
       CAST(CASE WHEN r.id IN (SELECT id FROM dseeds) THEN 1 ELSE 0 END AS BIGINT) AS is_seed,
       r.rank, COALESCE(s.n_mentions, 0) AS n_mentions
FROM ranked r LEFT JOIN dstats s ON r.id = s.id LEFT JOIN l5 l ON r.id = l.id
ORDER BY r.rank DESC, r.id"""

    _ppr_sql = f"""WITH {PAIRS_CTE},
{_ppr_ctes(_PPR_SEED_LEMMAS)}
SELECT id, ROUND(rank, 8) AS rank FROM pr10 WHERE rank > 0
ORDER BY rank DESC, id LIMIT 20"""
    _local_lemmas = tuple(sorted(set(_local_search_lemmas())))
    _local_seeds_sql = ", ".join(
        f"substr(sha256('{s}'), 1, 16)" for s in _local_lemmas
    )
    _local_search_sql = f"""WITH {PAIRS_CTE},
{_ppr_ctes(_local_lemmas)},
ranked AS (SELECT id, ROUND(rank, 8) AS rank FROM pr10 WHERE rank > 0
           ORDER BY rank DESC, id LIMIT 20),
stats AS (SELECT concept_id AS id, MIN(lemma) AS lemma,
                 CAST(COUNT(*) AS BIGINT) AS n_mentions,
                 CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_chunks
          FROM mentions GROUP BY concept_id)
SELECT r.id, s.lemma,
       CAST(CASE WHEN r.id IN ({_local_seeds_sql}) THEN 1 ELSE 0 END AS BIGINT) AS is_seed,
       r.rank,
       COALESCE(s.n_mentions, 0) AS n_mentions,
       COALESCE(s.n_chunks, 0) AS n_chunks
FROM ranked r LEFT JOIN stats s ON r.id = s.id
ORDER BY r.rank DESC, r.id LIMIT 20"""
    # 32-bit value from the first 8 hex chars of an md5 column,
    # rebuilt nibble-by-nibble (DuckDB has no hex->int conv; Spark
    # side uses conv(substr(md5, 1, 8), 16, 10))
    def _nib32_expr(col: str) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
            for i in range(8)
        )

    # FastRP unrolled levels (mirrors queries.fastrp_embeddings):
    # hash-Rademacher init, then per level neighbor-mean -> per-node
    # L2 normalize.  MATERIALIZED throughout — each level is referenced
    # twice (value + norm), which DuckDB's CTE inlining would expand
    # exponentially (the kg_hits lesson).
    _fastrp_weights = (0.3, 0.5, 1.0)
    _fastrp_ctes = f"""fund AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
fadj AS MATERIALIZED (SELECT cid, nbr_id FROM fund WHERE cid <> nbr_id),
fdeg AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS BIGINT) AS deg FROM fadj GROUP BY cid),
fnodes AS MATERIALIZED (SELECT DISTINCT cid AS id FROM fadj),
fdims AS (SELECT unnest(range(0, 8)) AS j),
fh0 AS (SELECT n.id, d.j, md5('fastrp|' || n.id || '|' || CAST(d.j AS VARCHAR)) AS h
        FROM fnodes n CROSS JOIN fdims d),
fx0 AS MATERIALIZED (SELECT id, j,
        CASE WHEN ({_nib32_expr("h")}) % 2 = 0 THEN 1.0 ELSE -1.0 END AS x FROM fh0)""" + "".join(
        f""",
fs{l} AS MATERIALIZED (SELECT a.cid AS id, x.j, SUM(x.x) / dg.deg AS x
  FROM fadj a JOIN fx{l - 1} x ON a.nbr_id = x.id JOIN fdeg dg ON dg.cid = a.cid
  GROUP BY a.cid, x.j, dg.deg),
fn{l} AS MATERIALIZED (SELECT id, sqrt(SUM(x * x)) AS nrm FROM fs{l} GROUP BY id),
fx{l} AS MATERIALIZED (SELECT s.id, s.j, CASE WHEN n.nrm > 0 THEN s.x / n.nrm ELSE 0.0 END AS x
  FROM fs{l} s JOIN fn{l} n ON s.id = n.id)"""
        for l in range(1, len(_fastrp_weights) + 1)
    )
    _fastrp_val = " + ".join(
        f"{w} * x{l}.x" for l, w in enumerate(_fastrp_weights, 1)
    )
    _fastrp_joins = " ".join(
        f"JOIN fx{l} x{l} ON x1.id = x{l}.id AND x1.j = x{l}.j"
        for l in range(2, len(_fastrp_weights) + 1)
    )
    _fastrp_sql = f"""WITH {PAIRS_CTE},
{_fastrp_ctes}
SELECT x1.id, x1.j, ROUND({_fastrp_val}, 6) AS val
FROM fx1 x1 {_fastrp_joins}
ORDER BY x1.id, x1.j"""

    # fastrp -> cosine top-k composition (mirrors q_kg_fastrp_neighbors:
    # both engines consume the 6-dp-ROUNDED embedding, so every product
    # downstream starts from bit-identical inputs)
    _frn_seeds = " UNION ALL ".join(
        f"SELECT substr(sha256('{s}'), 1, 16) AS sid" for s in _PPR_SEED_LEMMAS
    )
    _frn_sql = f"""WITH {PAIRS_CTE},
{_fastrp_ctes},
femb AS MATERIALIZED (SELECT x1.id, x1.j, ROUND({_fastrp_val}, 6) AS val
  FROM fx1 x1 {_fastrp_joins}),
fseeds AS ({_frn_seeds}),
fse AS (SELECT s.sid, e.j, e.val AS sval FROM femb e JOIN fseeds s ON e.id = s.sid),
fdots AS (SELECT se.sid, e.id, SUM(se.sval * e.val) AS dot
          FROM femb e JOIN fse se ON e.j = se.j WHERE e.id <> se.sid
          GROUP BY se.sid, e.id),
fnrm AS MATERIALIZED (SELECT id, sqrt(SUM(val * val)) AS n FROM femb GROUP BY id),
frk AS (SELECT d.sid, d.id, ROUND(d.dot / (ns.n * no.n), 6) AS cos,
               ROW_NUMBER() OVER (PARTITION BY d.sid
                 ORDER BY ROUND(d.dot / (ns.n * no.n), 6) DESC, d.id) AS rk
        FROM fdots d JOIN fnrm ns ON ns.id = d.sid JOIN fnrm no ON no.id = d.id)
SELECT sid, id, cos FROM frk WHERE rk <= 5 ORDER BY sid, cos DESC, id"""

    _nib32 = _nib32_expr("c.h")
    _walk_steps = "".join(
        f""",
h{t} AS (SELECT walk_id, cur, md5('42|' || walk_id || '|{t}') AS h FROM w{t - 1}),
w{t} AS (SELECT c.walk_id, a.nbr_id AS cur
         FROM h{t} c JOIN deg d ON d.cid = c.cur
         JOIN adj a ON a.cid = c.cur AND a.idx = ({_nib32}) % d.deg)"""
        for t in range(1, 4)
    )
    _walk_ctes = f"""und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY nbr_id) - 1 AS idx FROM und),
deg AS (SELECT cid, COUNT(*) AS deg FROM und GROUP BY cid),
w0 AS (SELECT cid || '#0' AS walk_id, cid AS cur FROM deg){_walk_steps},
walks AS (
  SELECT walk_id, 0 AS step, cur AS node FROM w0
  UNION ALL SELECT walk_id, 1, cur FROM w1
  UNION ALL SELECT walk_id, 2, cur FROM w2
  UNION ALL SELECT walk_id, 3, cur FROM w3
)"""
    _walks_sql = f"""WITH {PAIRS_CTE},
{_walk_ctes}
SELECT walk_id, step, node FROM walks ORDER BY walk_id, step"""

    # node2vec unrolled steps (mirrors queries.node2vec_walks): per
    # step, fan the frontier out over adjacency, weight each neighbor
    # 0.25 (return) / 1.0 (triangle with prev) / 4.0 (outward), then
    # pick the first neighbor (by id) whose running weight exceeds
    # u * total with u = md5_32(seed|walk_id|t) / 2^32.  Weights are
    # binary-exact so the cumsum sequence is IEEE-identical in both
    # engines.  MATERIALIZED: each frontier is referenced twice
    # (next step + final union) — the kg_hits CTE-inlining lesson.
    def _n2v_step(t: int) -> str:
        h = _nib32_expr("h")
        return f""",
n2c{t} AS MATERIALIZED (
  SELECT f.walk_id, f.cur, u.nbr_id AS nbr,
         CASE WHEN u.nbr_id = f.prev THEN 0.25
              WHEN e.ea IS NOT NULL THEN 1.0
              ELSE 4.0 END AS w
  FROM n2f{t - 1} f JOIN n2und u ON u.cid = f.cur
  LEFT JOIN n2eset e ON e.ea = LEAST(u.nbr_id, f.prev)
                    AND e.eb = GREATEST(u.nbr_id, f.prev)),
n2s{t} AS MATERIALIZED (
  SELECT walk_id, cur, nbr,
         SUM(w) OVER (PARTITION BY walk_id ORDER BY nbr ROWS UNBOUNDED PRECEDING) AS cumw,
         SUM(w) OVER (PARTITION BY walk_id) AS tot,
         md5('42|' || walk_id || '|{t}') AS h
  FROM n2c{t}),
n2b{t} AS MATERIALIZED (
  SELECT walk_id, cur, nbr, cumw, tot, h,
         LAG(cumw, 1, 0.0) OVER (PARTITION BY walk_id ORDER BY nbr) AS lo
  FROM n2s{t}),
n2f{t} AS MATERIALIZED (
  SELECT walk_id, cur AS prev, nbr AS cur FROM n2b{t}
  WHERE cumw > (({h}) / 4294967296.0) * tot
    AND lo <= (({h}) / 4294967296.0) * tot)"""

    _n2v_sql = (
        f"""WITH {PAIRS_CTE},
n2und AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
n2eset AS MATERIALIZED (SELECT DISTINCT LEAST(cid, nbr_id) AS ea, GREATEST(cid, nbr_id) AS eb FROM n2und),
n2f0 AS MATERIALIZED (SELECT cid || '#0' AS walk_id, cid AS prev, cid AS cur
                      FROM (SELECT DISTINCT cid FROM n2und))"""
        + "".join(_n2v_step(t) for t in range(1, 4))
        + """,
n2walks AS (
  SELECT walk_id, 0 AS step, cur AS node FROM n2f0
  UNION ALL SELECT walk_id, 1, cur FROM n2f1
  UNION ALL SELECT walk_id, 2, cur FROM n2f2
  UNION ALL SELECT walk_id, 3, cur FROM n2f3
)
SELECT walk_id, step, node FROM n2walks ORDER BY walk_id, step"""
    )
    _skipgram_sql = f"""WITH {PAIRS_CTE},
{_walk_ctes}
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id AND a.step <> b.step AND abs(a.step - b.step) <= 2
GROUP BY center, context
ORDER BY n_pairs DESC, center, context"""
    _sample_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
ranked AS (SELECT cid, nbr_id,
                  ROW_NUMBER() OVER (PARTITION BY cid
                                     ORDER BY md5('42|' || cid || '|' || nbr_id), nbr_id) - 1 AS idx
           FROM und),
f0 AS (SELECT DISTINCT cid AS root, cid AS cur FROM und),
e1 AS (SELECT f.root, 1 AS hop, f.cur AS src, r.nbr_id AS dst
       FROM f0 f JOIN ranked r ON r.cid = f.cur AND r.idx < 3),
f1 AS (SELECT DISTINCT root, dst AS cur FROM e1),
e2 AS (SELECT f.root, 2 AS hop, f.cur AS src, r.nbr_id AS dst
       FROM f1 f JOIN ranked r ON r.cid = f.cur AND r.idx < 2)
SELECT DISTINCT root, hop, src, dst
FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
ORDER BY root, hop, src, dst"""
    _core_rounds = "".join(
        f""",
nr{k} AS (SELECT u.cid AS id,
                 ROW_NUMBER() OVER (PARTITION BY u.cid ORDER BY v.val DESC, u.nbr_id) AS rk,
                 v.val
          FROM und u JOIN cv{k - 1} v ON v.id = u.nbr_id),
cv{k} AS (SELECT id, MAX(LEAST(rk, val)) AS val FROM nr{k} GROUP BY id)"""
        for k in range(1, 9)
    )
    _coreness_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
cv0 AS (SELECT cid AS id, CAST(COUNT(*) AS BIGINT) AS val FROM und GROUP BY cid){_core_rounds}
SELECT id, CAST(val AS BIGINT) AS coreness FROM cv8 ORDER BY coreness DESC, id"""
    _contrastive_sql = f"""WITH {PAIRS_CTE},
pos AS (SELECT DISTINCT a_id AS a, b_id AS b FROM pairs),
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
nodesx AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS idx
           FROM (SELECT DISTINCT cid AS id FROM und)),
nn AS (SELECT COUNT(*) AS n FROM nodesx),
cands AS (SELECT a, b, md5('42|' || a || '|' || b || '|0') AS h FROM pos
          UNION ALL SELECT a, b, md5('42|' || a || '|' || b || '|1') FROM pos),
cidx AS (SELECT c.a, c.b, ({_nib32}) % nn.n AS idx FROM cands c CROSS JOIN nn),
negs AS (SELECT DISTINCT x.a, nd.id AS b
         FROM cidx x JOIN nodesx nd ON nd.idx = x.idx
         WHERE nd.id <> x.a AND nd.id <> x.b
           AND NOT EXISTS (SELECT 1 FROM und u WHERE u.cid = x.a AND u.nbr_id = nd.id))
SELECT a, b, 1 AS label FROM pos
UNION ALL SELECT a, b, 0 FROM negs
ORDER BY a, b, label"""
    # weighted pagerank: same 10 unrolled rounds, inflow carries the
    # edge weight over the weighted degree (strength); weights are
    # integer-valued doubles so the strength sums are EXACT
    _wpr_iters = "".join(
        f""",
wc{k} AS (SELECT u.nbr_id AS id, SUM(r.rank * u.w / dg.s) AS inflow
         FROM wund u JOIN wr{k - 1} r ON u.cid = r.id JOIN wdeg dg ON dg.cid = u.cid
         GROUP BY u.nbr_id),
wr{k} AS (SELECT n.id, ((1.0 - 0.85) / wnn.n) + 0.85 * COALESCE(c.inflow, 0.0) AS rank
         FROM wnodes n CROSS JOIN wnn LEFT JOIN wc{k} c ON c.id = n.id)"""
        for k in range(1, 11)
    )
    _pagerank_weighted_sql = f"""WITH {PAIRS_CTE},
wp AS (SELECT a_id, b_id, CAST(COUNT(*) AS DOUBLE) AS w FROM pairs GROUP BY a_id, b_id),
wund AS (SELECT a_id AS cid, b_id AS nbr_id, w FROM wp UNION ALL SELECT b_id, a_id, w FROM wp),
wnodes AS (SELECT DISTINCT cid AS id FROM wund),
wnn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM wnodes),
wdeg AS (SELECT cid, SUM(w) AS s FROM wund GROUP BY cid),
wr0 AS (SELECT id, 1.0 / wnn.n AS rank FROM wnodes CROSS JOIN wnn){_wpr_iters}
SELECT id, ROUND(rank, 8) AS rank FROM wr10 ORDER BY rank DESC, id LIMIT 20"""

    # Luby MIS unrolled rounds (mirrors queries.independent_set:
    # static md5|id priorities, per-round winner test vs min live-
    # neighbor priority, winners + neighbors leave). Extra rounds
    # past the fixpoint are no-ops over empty relations, so the
    # unroll count only needs to be >= the rounds the corpus needs.
    def _mis_ctes(rounds: int = 12) -> str:
        s = """madj0 AS MATERIALIZED (SELECT cid, nbr_id FROM (
  SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs
  UNION SELECT b_id, a_id FROM pairs) WHERE cid <> nbr_id),
mnodes AS MATERIALIZED (SELECT DISTINCT cid AS id FROM madj0),
mlive0 AS (SELECT id FROM mnodes)"""
        for k in range(1, rounds + 1):
            s += f""",
mwin{k} AS MATERIALIZED (
  SELECT l.id FROM mlive{k - 1} l
  LEFT JOIN (SELECT e.cid AS id, MIN(md5('mis|' || e.nbr_id) || '|' || e.nbr_id) AS mn
             FROM madj{k - 1} e GROUP BY e.cid) m ON m.id = l.id
  WHERE m.mn IS NULL OR (md5('mis|' || l.id) || '|' || l.id) < m.mn),
mrem{k} AS (SELECT id FROM mwin{k}
            UNION SELECT e.nbr_id FROM madj{k - 1} e JOIN mwin{k} w ON e.cid = w.id),
mlive{k} AS MATERIALIZED (SELECT l.id FROM mlive{k - 1} l ANTI JOIN mrem{k} r ON l.id = r.id),
madj{k} AS MATERIALIZED (SELECT e.cid, e.nbr_id FROM madj{k - 1} e
  JOIN mlive{k} a ON e.cid = a.id JOIN mlive{k} b ON e.nbr_id = b.id)"""
        s += (
            ",\nmmis AS ("
            + " UNION ALL ".join(f"SELECT id FROM mwin{k}" for k in range(1, rounds + 1))
            + ")"
        )
        return s

    _mis_sql = f"""WITH {PAIRS_CTE},
{_mis_ctes(12)}
SELECT n.id, (m.id IS NOT NULL) AS in_mis
FROM mnodes n LEFT JOIN mmis m ON n.id = m.id ORDER BY n.id"""

    _pagerank_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
nodes AS (SELECT DISTINCT cid AS id FROM und),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY cid),
r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn){_pr_iters}
SELECT id, ROUND(rank, 8) AS rank FROM r10 ORDER BY rank DESC, id LIMIT 20"""

    # node-feature matrix: reuses the pagerank prelude (und/nodes/nn/
    # deg/r0..r10), the LPA chain (l0..l5) and the coreness chain
    # (cv0..cv8) over ONE shared `und` — the same composition the
    # Spark side performs off one materialized adjacency
    _node_features_sql = f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
nodes AS (SELECT DISTINCT cid AS id FROM und),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS deg FROM und GROUP BY cid),
r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn){_pr_iters},
{_lpa_cte("", "und")},
cv0 AS (SELECT cid AS id, CAST(COUNT(*) AS BIGINT) AS val FROM und GROUP BY cid){_core_rounds}
SELECT n.id, CAST(dg.deg AS BIGINT) AS degree, CAST(cv.val AS BIGINT) AS coreness,
       ROUND(r.rank, 8) AS pagerank, l.label AS community
FROM nodes n JOIN deg dg ON dg.cid = n.id JOIN cv8 cv ON cv.id = n.id
JOIN r10 r ON r.id = n.id JOIN l5 l ON l.id = n.id
ORDER BY n.id"""
    # kg_ktruss: the 3 peel rounds of plans/queries.ktruss unrolled.
    # Every e{r} is referenced 3x by the next triangle join — AS
    # MATERIALIZED is mandatory (plain CTEs inline exponentially in
    # DuckDB across unrolled levels).
    def _ktruss_sql(k: int, iters: int) -> str:
        sup = k - 2
        parts = [
            """e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(a_id, b_id) AS lo, GREATEST(a_id, b_id) AS hi
  FROM pairs WHERE a_id <> b_id)"""
        ]
        for r in range(1, iters + 1):
            prev = f"e{r - 1}"
            parts.append(f"""t{r} AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM {prev} e1 JOIN {prev} e2 ON e1.hi = e2.lo
  JOIN {prev} e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
e{r} AS MATERIALIZED (
  SELECT lo, hi FROM (
    SELECT lo, hi, COUNT(*) AS support FROM (
      SELECT a AS lo, b AS hi FROM t{r}
      UNION ALL SELECT a, c FROM t{r}
      UNION ALL SELECT b, c FROM t{r}) GROUP BY lo, hi)
  WHERE support >= {sup})""")
        parts.append(f"""tf AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM e{iters} e1 JOIN e{iters} e2 ON e1.hi = e2.lo
  JOIN e{iters} e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)""")
        return f"""WITH {PAIRS_CTE},
{','.join(parts)}
SELECT e.lo AS a_id, e.hi AS b_id, CAST(COALESCE(s.support, 0) AS BIGINT) AS support
FROM e{iters} e LEFT JOIN (
  SELECT lo, hi, COUNT(*) AS support FROM (
    SELECT a AS lo, b AS hi FROM tf UNION ALL SELECT a, c FROM tf
    UNION ALL SELECT b, c FROM tf) GROUP BY lo, hi) s
  ON e.lo = s.lo AND e.hi = s.hi
ORDER BY a_id, b_id"""

    return {
        "kg_communities": _communities_sql,
        # incremental refresh is graded against the FULL-graph LPA —
        # hash-exact equality IS the incremental==full proof
        "kg_incremental_communities": _communities_sql,
        "kg_communities_weighted": f"""WITH {PAIRS_CTE},
wp AS (SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS w FROM pairs GROUP BY a_id, b_id),
wund AS (SELECT a_id AS cid, b_id AS nbr_id, w FROM wp
         UNION ALL SELECT b_id, a_id, w FROM wp),
{_lpa_cte("", "wund", "SUM(u.w)")}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l5 GROUP BY label HAVING COUNT(*) >= 2
ORDER BY n_members DESC, community LIMIT 50""",
        "kg_conductance": f"""WITH {PAIRS_CTE},
{_lpa_base},
b AS (SELECT u.cid, la.label AS la, lb.label AS lb
      FROM und u JOIN l5 la ON u.cid = la.id JOIN l5 lb ON u.nbr_id = lb.id),
m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM b),
per_c AS (SELECT la AS community,
                 CAST(SUM(CASE WHEN la <> lb THEN 1 ELSE 0 END) AS BIGINT) AS cut,
                 CAST(COUNT(*) AS BIGINT) AS vol
          FROM b GROUP BY la),
sizes AS (SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM l5 GROUP BY label)
SELECT p.community, s.n_members, p.cut, p.vol,
       CASE WHEN LEAST(p.vol, m2.m2 - p.vol) > 0
            THEN ROUND(1.0 * p.cut / LEAST(p.vol, m2.m2 - p.vol), 6)
            ELSE 0.0 END AS conductance
FROM per_c p JOIN sizes s ON p.community = s.community CROSS JOIN m2
ORDER BY s.n_members DESC, p.community LIMIT 20""",
        "kg_modularity": f"""WITH {PAIRS_CTE},
{_lpa_base},
b AS (SELECT la.label AS la, lb.label AS lb
      FROM und u JOIN l5 la ON u.cid = la.id JOIN l5 lb ON u.nbr_id = lb.id),
per_c AS (SELECT la, SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS e2, COUNT(*) AS d
          FROM b GROUP BY la)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(SUM(d) // 2 AS BIGINT) AS m,
       ROUND(CAST(SUM(e2) AS DOUBLE) / CAST(SUM(d) AS DOUBLE)
             - CAST(SUM(d * d) AS DOUBLE)
               / (CAST(SUM(d) AS DOUBLE) * CAST(SUM(d) AS DOUBLE)), 6) AS modularity
FROM per_c""",
        "kg_community_report": _community_report_sql,
        "kg_global_search": _global_search_sql,
        "kg_community_hierarchy": _hierarchy_sql,
        "kg_triangles": _triangles_sql,
        "kg_related_concepts": _related_sql,
        "kg_personalized_pagerank": _ppr_sql,
        "kg_local_search": _local_search_sql,
        "kg_random_walks": _walks_sql,
        "kg_node2vec": _n2v_sql,
        "kg_graph_sparsify": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
deg AS (SELECT cid AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY cid),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS a_id, GREATEST(cid, nbr_id) AS b_id FROM adj),
j AS (SELECT e.a_id, e.b_id,
             LEAST(1.0, 4.0 / sqrt(CAST(da.deg * db.deg AS DOUBLE))) AS p,
             ({_nib32_expr("md5('sp|' || e.a_id || '|' || e.b_id)")}) AS h
      FROM e JOIN deg da ON e.a_id = da.id JOIN deg db ON e.b_id = db.id)
SELECT a_id, b_id, ROUND(p, 6) AS p, ROUND(1.0 / p, 6) AS weight
FROM j WHERE (h + 0.5) / 4294967296.0 < p
ORDER BY a_id, b_id""",
        # kg_concept_drift: kl_divergence_from_counts' exact smoothed-KL
        # algebra over (source, concept_id) mention counts, top-256
        "kg_concept_drift": f"""WITH {MENTIONS_CTE},
docsrc AS (SELECT CAST(doc_id AS VARCHAR) AS chunk_id, source FROM documents),
st AS (SELECT d.source, m.concept_id AS term, CAST(COUNT(*) AS BIGINT) AS c
       FROM mentions m JOIN docsrc d USING (chunk_id)
       GROUP BY d.source, m.concept_id),
ct AS (SELECT term, SUM(c) AS ct FROM st GROUP BY term),
top AS (SELECT term FROM ct ORDER BY ct DESC, term LIMIT 256),
b AS (SELECT source,
             CASE WHEN t.term IS NOT NULL THEN st.term ELSE '<other>' END AS bterm,
             SUM(st.c) AS c
      FROM st LEFT JOIN top t ON st.term = t.term GROUP BY source, bterm),
ctb AS (SELECT bterm, SUM(c) AS ct FROM b GROUP BY bterm),
scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS v1, SUM(ct) AS n FROM ctb),
q AS (SELECT bterm, CAST(ct + 1 AS DOUBLE) / (n + v1) AS q_,
             ln(CAST(ct + 1 AS DOUBLE) / (n + v1)) AS lnq
      FROM ctb, scal),
lt AS (SELECT SUM(lnq) AS l_total FROM q),
ns AS (SELECT source, SUM(c) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_terms_seen
       FROM b GROUP BY source),
seen AS (SELECT b.source,
                SUM((CAST(b.c + 1 AS DOUBLE) / (ns.n_tokens + scal.v1))
                    * ln((CAST(b.c + 1 AS DOUBLE) / (ns.n_tokens + scal.v1)) / q.q_))
                  AS kl_seen,
                SUM(q.lnq) AS lnq_seen
         FROM b JOIN q USING (bterm) JOIN ns USING (source), scal
         GROUP BY b.source)
SELECT ns.source, CAST(ns.n_tokens AS BIGINT) AS n_mentions,
       ns.n_terms_seen AS n_concepts_seen,
       ROUND(s.kl_seen
             + (1.0 / (ns.n_tokens + scal.v1))
               * ((scal.v1 - ns.n_terms_seen) * ln(1.0 / (ns.n_tokens + scal.v1))
                  - (lt.l_total - s.lnq_seen)),
             6) AS kl_corpus
FROM ns JOIN seen s USING (source), scal, lt
ORDER BY ns.source""",
        "kg_fastrp_neighbors": _frn_sql,
        "kg_context_pack": f"""WITH {PAIRS_CTE},
{_ppr_ctes(_PPR_SEED_LEMMAS)},
prt AS (SELECT id, ROUND(rank, 8) AS rank FROM pr10 WHERE rank > 0
        ORDER BY rank DESC, id LIMIT 10),
evd AS (SELECT DISTINCT m.concept_id AS id, m.chunk_id FROM mentions m JOIN prt p ON p.id = m.concept_id),
evr AS (SELECT id, chunk_id, ROW_NUMBER() OVER (PARTITION BY id ORDER BY chunk_id) AS erk FROM evd),
sn AS (SELECT e.id, e.chunk_id, substr(s.text, 1, 200) AS snippet
       FROM evr e JOIN src s ON s.chunk_id = e.chunk_id WHERE e.erk <= 3),
tok AS (SELECT id, chunk_id, snippet,
               CAST(len(list_filter(regexp_split_to_array(trim(snippet), '\\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM sn),
ord AS (SELECT ROW_NUMBER() OVER (ORDER BY p.rank DESC, t.id, t.chunk_id) AS pos,
               t.id, t.chunk_id, p.rank, t.n_tokens,
               SUM(t.n_tokens) OVER (ORDER BY p.rank DESC, t.id, t.chunk_id
                                     ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               t.snippet
        FROM tok t JOIN prt p ON p.id = t.id)
SELECT CAST(pos AS INT) AS pos, id, chunk_id, rank, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens, snippet
FROM ord WHERE cum_tokens <= 150 ORDER BY pos""",
        "kg_path_between": f"""WITH {PAIRS_CTE},
pf AS (SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS freq FROM pairs GROUP BY a_id, b_id),
wund AS MATERIALIZED (SELECT a_id AS cid, b_id AS nbr_id, 1.0 / freq AS w FROM pf
         UNION ALL SELECT b_id, a_id, 1.0 / freq FROM pf),
pd0 AS (SELECT substr(sha256('apache_spark'), 1, 16) AS id, 0.0 AS dist,
               CAST(NULL AS VARCHAR) AS pred)"""
        + "".join(
            f""",
pd{k} AS MATERIALIZED (SELECT id, dist, pred FROM (
  SELECT id, dist, pred,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, pred NULLS FIRST) AS rn
  FROM (SELECT id, dist, pred FROM pd{k - 1}
        UNION ALL
        SELECT w.nbr_id, d.dist + w.w, d.id FROM pd{k - 1} d JOIN wund w ON w.cid = d.id)
) WHERE rn = 1)"""
            for k in range(1, 7)
        )
        + """,
pw0 AS (SELECT id, dist, pred FROM pd6
        WHERE id = substr(sha256('the_new_york_window'), 1, 16))"""
        + "".join(
            f""",
pw{k} AS (SELECT d.id, d.dist, d.pred FROM pd6 d JOIN pw{k - 1} p ON d.id = p.pred)"""
            for k in range(1, 7)
        )
        + """,
pall AS (SELECT DISTINCT id, dist FROM (
  SELECT id, dist FROM pw0"""
        + "".join(f" UNION ALL SELECT id, dist FROM pw{k}" for k in range(1, 7))
        + """))
SELECT CAST(ROW_NUMBER() OVER (ORDER BY dist) - 1 AS INT) AS step, id,
       ROUND(dist, 6) AS dist
FROM pall ORDER BY step""",
        "kg_node_features": _node_features_sql,
        "kg_degree_distribution": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
deg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS degree FROM und WHERE cid <> nbr_id GROUP BY cid)
SELECT CAST(floor(log2(degree)) AS BIGINT) AS log2_degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(degree) AS BIGINT) AS min_degree,
       CAST(MAX(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY log2_degree ORDER BY log2_degree""",
        "kg_neighbor_sample": _sample_sql,
        "kg_coreness": _coreness_sql,
        "kg_skipgram_pairs": _skipgram_sql,
        "kg_contrastive_pairs": _contrastive_sql,
        "kg_graph_stats": _graph_stats_sql,
        "kg_entity_resolution": f"""WITH RECURSIVE {TRIPLES_CTE},
lem AS (SELECT DISTINCT lemma, concept_id FROM mentions),
va AS (SELECT lemma AS lemma_a, substr(lemma, 5) AS lemma_b FROM lem WHERE starts_with(lemma, 'the_')
       UNION ALL
       SELECT lemma, left(lemma, length(lemma) - 4) FROM lem WHERE ends_with(lemma, '_top')),
ae AS (SELECT DISTINCT x.concept_id AS u, y.concept_id AS v
       FROM lem x JOIN va ON x.lemma = va.lemma_a JOIN lem y ON va.lemma_b = y.lemma
       WHERE va.lemma_b <> ''),
sym AS (SELECT u, v FROM ae UNION SELECT v, u FROM ae),
reach(src, dst) AS (SELECT u, v FROM sym
                    UNION
                    SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u WHERE s.v <> r.src),
comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src),
ids AS (SELECT DISTINCT concept_id FROM mentions),
cmap AS (SELECT i.concept_id AS concept_id, COALESCE(c.component, i.concept_id) AS canonical_id
         FROM ids i LEFT JOIN comp c ON c.id = i.concept_id),
rw AS (SELECT COALESCE(ms.canonical_id, t.subj_id) AS subj_id, t.predicate,
              COALESCE(mo.canonical_id, t.obj_id) AS obj_id, t.confidence
       FROM triples t LEFT JOIN cmap ms ON ms.concept_id = t.subj_id
                      LEFT JOIN cmap mo ON mo.concept_id = t.obj_id)
SELECT subj_id, predicate, obj_id, CAST(COUNT(*) AS BIGINT) AS n_merged,
       ROUND(MAX(confidence), 2) AS max_conf
FROM rw WHERE subj_id <> obj_id
GROUP BY subj_id, predicate, obj_id ORDER BY subj_id, predicate, obj_id""",
        "kg_pagerank": _pagerank_sql,
        "kg_pagerank_weighted": _pagerank_weighted_sql,
        "kg_independent_set": _mis_sql,
        "kg_mentions": f"WITH {MENTIONS_CTE} SELECT chunk_id, concept_id, lemma, surface, origin FROM mentions",
        "kg_mentions_nlp": f"WITH {MENTIONS_CTE}, {NLP_MENTIONS_CTE} SELECT chunk_id, concept_id, lemma, surface, origin FROM nlp_mentions",
        "kg_cooccur_pairs": f"WITH {PAIRS_CTE} SELECT window_id, a_id, b_id, freq FROM pairs",
        "kg_pair_freq": f"WITH {PAIRS_CTE} SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS freq FROM pairs GROUP BY a_id, b_id",
        "kg_pmi": f"""WITH {PAIRS_CTE},
pf AS (SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS freq FROM pairs GROUP BY a_id, b_id),
cfreq AS (SELECT concept_id, COUNT(DISTINCT chunk_id) AS cfreq FROM mentions GROUP BY concept_id),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents)
SELECT pf.a_id, pf.b_id, pf.freq,
       ROUND(log2((pf.freq / n.n) / ((ca.cfreq / n.n) * (cb.cfreq / n.n))), 6) AS pmi
FROM pf, n
JOIN cfreq ca ON pf.a_id = ca.concept_id
JOIN cfreq cb ON pf.b_id = cb.concept_id""",
        "kg_triples": f"WITH {TRIPLES_CTE} SELECT subj_id, predicate, obj_id, confidence, evidence, chunk_id FROM triples",
        # kg_predicate_conflicts: (subj, obj) pairs asserted under >1
        # predicate; sorted comma-join keeps the set hashable
        "kg_predicate_conflicts": f"""WITH {TRIPLES_CTE}
SELECT subj_id, obj_id, CAST(COUNT(*) AS BIGINT) AS n_assertions,
       CAST(COUNT(DISTINCT predicate) AS BIGINT) AS n_predicates,
       string_agg(DISTINCT predicate, ',' ORDER BY predicate) AS predicates,
       ROUND(MAX(confidence), 6) AS max_confidence
FROM triples GROUP BY subj_id, obj_id
HAVING COUNT(DISTINCT predicate) >= 2
ORDER BY subj_id, obj_id""",
        # kg_triple_support: distinct-chunk support per triple,
        # histogrammed per predicate
        "kg_triple_support": f"""WITH {TRIPLES_CTE},
sup AS (SELECT subj_id, predicate, obj_id,
               CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS support
        FROM triples GROUP BY subj_id, predicate, obj_id)
SELECT predicate, support, CAST(COUNT(*) AS BIGINT) AS n_triples
FROM sup GROUP BY predicate, support ORDER BY predicate, support""",
        # kg_concept_roles: per-concept subj/obj role profile over the
        # triple DAG (one union + one hash agg + lemma join)
        "kg_concept_roles": f"""WITH {TRIPLES_CTE},
roles AS (
  SELECT subj_id AS concept_id, 1 AS as_subj, 0 AS as_obj, predicate, obj_id AS partner FROM triples
  UNION ALL
  SELECT obj_id, 0, 1, predicate, subj_id FROM triples
),
prof AS (SELECT concept_id,
                CAST(SUM(as_subj) AS BIGINT) AS n_as_subj,
                CAST(SUM(as_obj) AS BIGINT) AS n_as_obj,
                CAST(COUNT(DISTINCT partner) AS BIGINT) AS n_partners,
                CAST(COUNT(DISTINCT predicate) AS BIGINT) AS n_predicates
         FROM roles GROUP BY concept_id),
lem AS (SELECT concept_id, MIN(lemma) AS lemma FROM mentions GROUP BY concept_id)
SELECT p.concept_id, l.lemma, p.n_as_subj, p.n_as_obj, p.n_partners, p.n_predicates
FROM prof p LEFT JOIN lem l ON p.concept_id = l.concept_id
ORDER BY p.concept_id""",
        "kg_edge_histogram": f"""WITH {TRIPLES_CTE}
SELECT regexp_replace(upper(predicate), '[^A-Z0-9_]', '_', 'g') AS rel, COUNT(*) AS cnt
FROM triples GROUP BY 1 ORDER BY cnt DESC, rel""",
        "kg_concept_search": f"""WITH {PAIRS_CTE},
concepts AS (SELECT DISTINCT concept_id, lemma, surface FROM mentions),
lem AS (SELECT DISTINCT concept_id, lemma FROM mentions),
und AS (SELECT a_id AS cid, b_id AS nbr FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
nbr AS (SELECT und.cid, l.lemma AS nbr_lemma FROM und JOIN lem l ON und.nbr = l.concept_id),
matched AS (SELECT DISTINCT concept_id FROM concepts WHERE contains(lemma, 'value') OR contains(surface, 'value'))
SELECT m.concept_id,
       COUNT(n.cid) AS score,
       COALESCE(array_to_string(array_agg(DISTINCT n.nbr_lemma ORDER BY n.nbr_lemma) FILTER (n.nbr_lemma IS NOT NULL), ','), '') AS related
FROM matched m LEFT JOIN nbr n ON m.concept_id = n.cid
GROUP BY m.concept_id ORDER BY score DESC, m.concept_id LIMIT 20""",
        "kg_evidence": f"""WITH {MENTIONS_CTE}
SELECT DISTINCT m.chunk_id, s.text
FROM mentions m JOIN src s ON m.chunk_id = s.chunk_id
WHERE m.concept_id = substr(sha256('apache_spark'), 1, 16)
ORDER BY m.chunk_id LIMIT 100""",
        "kg_neighbors": f"""WITH {PAIRS_CTE},
und AS (SELECT a_id AS cid, b_id AS nbr FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
lem AS (SELECT DISTINCT concept_id, lemma FROM mentions),
nb AS (SELECT DISTINCT nbr FROM und WHERE cid = substr(sha256('apache_spark'), 1, 16))
SELECT nb.nbr AS neighbor_id, l.lemma
FROM nb JOIN lem l ON nb.nbr = l.concept_id
ORDER BY neighbor_id, lemma LIMIT 20""",
        "kg_text_search": f"""WITH {MENTIONS_CTE},
tok AS (
  SELECT chunk_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)) AS term
  FROM src
),
post AS (SELECT term, chunk_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
hits AS (
  SELECT chunk_id, COUNT(DISTINCT term) AS nt, SUM(tf) AS score
  FROM post WHERE term IN ('data', 'spark') GROUP BY 1
)
SELECT chunk_id, CAST(score AS BIGINT) AS score
FROM hits WHERE nt = 2
ORDER BY score DESC, chunk_id LIMIT 20""",
        "kg_bfs": f"""WITH RECURSIVE {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr FROM pairs UNION SELECT b_id, a_id FROM pairs),
walk(id, dist) AS (
  SELECT substr(sha256('apache_spark'), 1, 16), 0
  UNION
  SELECT u.nbr, w.dist + 1 FROM walk w JOIN und u ON u.cid = w.id WHERE w.dist < 3
)
SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id ORDER BY dist, id""",
        "kg_neighbors_2hop": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr FROM pairs UNION SELECT b_id, a_id FROM pairs),
h1 AS (SELECT DISTINCT nbr FROM und WHERE cid = substr(sha256('apache_spark'), 1, 16)),
h2 AS (
  SELECT DISTINCT u.nbr FROM und u JOIN h1 ON u.cid = h1.nbr
  WHERE u.nbr <> substr(sha256('apache_spark'), 1, 16)
    AND u.nbr NOT IN (SELECT nbr FROM h1)
)
SELECT nbr AS neighbor_id, 1 AS min_hops FROM h1
UNION ALL
SELECT nbr, 2 FROM h2
ORDER BY min_hops, neighbor_id""",
        # BM25: literals 2.2/1.2/0.25/0.75 are repr() of the exact
        # python doubles the Spark plan embeds (k1+1, k1, 1-b, b);
        # round-6 absorbs sum-order/avgdl ulp differences
        "kg_text_bm25": f"""
WITH src AS (SELECT CAST(doc_id AS VARCHAR) AS chunk_id, {_cased_sql()} AS text FROM documents),
tok AS (
  SELECT chunk_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)) AS term
  FROM src
),
post AS (SELECT term, chunk_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT chunk_id,
              CAST(length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)) AS BIGINT) AS dl
       FROM src),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post
          WHERE term IN ('data', 'spark') GROUP BY term),
sc AS (SELECT p.chunk_id,
  SUM( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
       * ((p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) ) AS score
  FROM post p
  JOIN dfreq d ON p.term = d.term
  JOIN dl l ON p.chunk_id = l.chunk_id
  CROSS JOIN stats s
  GROUP BY p.chunk_id)
SELECT chunk_id, ROUND(score, 6) AS score FROM sc ORDER BY score DESC, chunk_id LIMIT 20""",
        # hybrid: the bm25 sc CTE (unrounded) joined through the
        # mentions CTE — per-concept sum of supporting-chunk relevance
        "kg_hybrid_search": f"""WITH {MENTIONS_CTE},
tok AS (
  SELECT chunk_id,
    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)) AS term
  FROM src
),
post AS (SELECT term, chunk_id, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT chunk_id,
              CAST(length(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)) AS BIGINT) AS dl
       FROM src),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM post
          WHERE term IN ('data', 'spark') GROUP BY term),
sc AS (SELECT p.chunk_id,
  SUM( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
       * ((p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) ) AS score
  FROM post p
  JOIN dfreq d ON p.term = d.term
  JOIN dl l ON p.chunk_id = l.chunk_id
  CROSS JOIN stats s
  GROUP BY p.chunk_id)
SELECT m.concept_id,
       ROUND(SUM(sc.score), 6) AS text_score,
       CAST(COUNT(DISTINCT m.chunk_id) AS BIGINT) AS n_chunks
FROM (SELECT DISTINCT chunk_id, concept_id FROM mentions) m
JOIN sc ON m.chunk_id = sc.chunk_id
GROUP BY m.concept_id
ORDER BY text_score DESC, concept_id LIMIT 20""",
        "kg_group_results": f"""WITH {MENTIONS_CTE},
lem AS (SELECT DISTINCT concept_id, lemma FROM mentions)
SELECT string_split(lemma, '_')[1] AS group_key, COUNT(*) AS n
FROM lem GROUP BY 1 ORDER BY group_key""",
        "kg_connected_components": """
SELECT lpad(CAST(vec_id AS VARCHAR), 6, '0') AS id,
       MIN(lpad(CAST(vec_id AS VARCHAR), 6, '0')) OVER (PARTITION BY label) AS component
FROM embeddings ORDER BY id""",
        # extraction_yield: mentions CTE re-grouped per chunk, LEFT
        # join back to the cased corpus so zero-mention chunks appear
        "kg_extraction_yield": f"""WITH {MENTIONS_CTE},
per AS (SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_mentions,
               CAST(COUNT(DISTINCT concept_id) AS BIGINT) AS n_concepts
        FROM mentions GROUP BY chunk_id),
ch AS (SELECT chunk_id, CAST(length(text) AS BIGINT) AS n_chars FROM src)
SELECT ch.chunk_id, ch.n_chars,
       CAST(COALESCE(per.n_mentions, 0) AS BIGINT) AS n_mentions,
       CAST(COALESCE(per.n_concepts, 0) AS BIGINT) AS n_concepts,
       ROUND(COALESCE(per.n_mentions, 0) * 1000.0 / ch.n_chars, 6) AS mentions_per_kchar
FROM ch LEFT JOIN per USING (chunk_id)
ORDER BY chunk_id""",
        "kg_int_encode": f"""WITH {MENTIONS_CTE},
vocab AS (
  SELECT 'Chunk' AS label, chunk_id AS id FROM src
  UNION
  SELECT DISTINCT 'Concept' AS label, concept_id AS id FROM mentions
),
nmap AS (
  SELECT label, id, CAST(ROW_NUMBER() OVER (ORDER BY label, id) - 1 AS BIGINT) AS int_id
  FROM vocab
),
medges AS (SELECT DISTINCT chunk_id, concept_id FROM mentions)
SELECT s.int_id AS src, d.int_id AS dst, 'MENTIONS' AS rel
FROM medges e
JOIN nmap s ON s.label = 'Chunk' AND s.id = e.chunk_id
JOIN nmap d ON d.label = 'Concept' AND d.id = e.concept_id
ORDER BY src, dst""",
        "kg_adamic_adar": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
deg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS mdeg FROM adj GROUP BY cid),
cand AS (SELECT n1.nbr_id AS a, n2.nbr_id AS b, CAST(COUNT(*) AS BIGINT) AS common,
                SUM(1.0 / ln(d.mdeg)) AS aa_raw, SUM(1.0 / d.mdeg) AS ra_raw
         FROM adj n1 JOIN adj n2 ON n1.cid = n2.cid AND n1.nbr_id < n2.nbr_id
         JOIN deg d ON d.cid = n1.cid
         GROUP BY n1.nbr_id, n2.nbr_id HAVING COUNT(*) >= 2),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS a, GREATEST(cid, nbr_id) AS b FROM adj)
SELECT c.a, c.b, c.common, ROUND(c.aa_raw, 6) AS aa, ROUND(c.ra_raw, 6) AS ra
FROM cand c ANTI JOIN e ON c.a = e.a AND c.b = e.b
ORDER BY aa DESC, common DESC, a, b LIMIT 20""",
        "kg_link_prediction": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
deg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY cid),
cand AS (SELECT n1.nbr_id AS a, n2.nbr_id AS b, CAST(COUNT(*) AS BIGINT) AS common,
                SUM(1.0 / ln(d.deg)) AS aa_raw, SUM(1.0 / d.deg) AS ra_raw
         FROM adj n1 JOIN adj n2 ON n1.cid = n2.cid AND n1.nbr_id < n2.nbr_id
         JOIN deg d ON d.cid = n1.cid
         GROUP BY n1.nbr_id, n2.nbr_id HAVING COUNT(*) >= 2),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS a, GREATEST(cid, nbr_id) AS b FROM adj),
ne AS (SELECT c.* FROM cand c ANTI JOIN e ON c.a = e.a AND c.b = e.b)
SELECT ne.a, ne.b, ne.common,
       ROUND(1.0 * ne.common / (da.deg + db.deg - ne.common), 6) AS jaccard,
       ROUND(ne.aa_raw, 6) AS aa, ROUND(ne.ra_raw, 6) AS ra,
       CAST(da.deg * db.deg AS BIGINT) AS pa
FROM ne JOIN deg da ON da.cid = ne.a JOIN deg db ON db.cid = ne.b
ORDER BY aa DESC, common DESC, a, b LIMIT 20""",
        "kg_shortest_paths": f"""WITH {PAIRS_CTE},
pf AS (SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS freq FROM pairs GROUP BY a_id, b_id),
wund AS (SELECT a_id AS cid, b_id AS nbr_id, 1.0 / freq AS w FROM pf
         UNION ALL SELECT b_id, a_id, 1.0 / freq FROM pf),
d0 AS ({" UNION ".join(f"SELECT substr(sha256('{s}'), 1, 16) AS id, 0.0 AS dist" for s in _PPR_SEED_LEMMAS)})"""
        + "".join(
            f""",
d{k} AS (SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{k - 1}
    UNION ALL
    SELECT w.nbr_id AS id, d.dist + w.w AS dist FROM d{k - 1} d JOIN wund w ON w.cid = d.id
) GROUP BY id)"""
            for k in range(1, 7)
        )
        + """
SELECT id, ROUND(dist, 6) AS dist FROM d6 ORDER BY dist, id""",
        "kg_drift_search": _drift_sql,
        "kg_betweenness": f"""WITH {PAIRS_CTE},
{_betweenness_ctes(_PPR_SEED_LEMMAS, 4)}
SELECT v AS id, ROUND(SUM(delta), 6) AS bc FROM (
  SELECT s, v, delta FROM bd4
  UNION ALL SELECT s, v, delta FROM bd3
  UNION ALL SELECT s, v, delta FROM bd2
  UNION ALL SELECT s, v, delta FROM bd1
) GROUP BY v ORDER BY bc DESC, id LIMIT 20""",
        "kg_ego_subgraph": f"""WITH RECURSIVE {PAIRS_CTE},
pf AS (SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS freq FROM pairs GROUP BY a_id, b_id),
eund AS (SELECT DISTINCT a_id AS cid, b_id AS nbr FROM pf UNION SELECT b_id, a_id FROM pf),
walk(id, dist) AS (
  SELECT substr(sha256('apache_spark'), 1, 16), 0
  UNION
  SELECT u.nbr, w.dist + 1 FROM walk w JOIN eund u ON u.cid = w.id WHERE w.dist < 2
),
d AS (SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id)
SELECT p.a_id, p.b_id, p.freq, da.dist AS a_dist, db.dist AS b_dist
FROM pf p JOIN d da ON p.a_id = da.id JOIN d db ON p.b_id = db.id
ORDER BY p.a_id, p.b_id""",
        "kg_fastrp": _fastrp_sql,
        "kg_hits": f"""WITH {TRIPLES_CTE},
{_HITS_CTES}
SELECT a.id, ROUND(a.a, 6) AS auth, ROUND(h.h, 6) AS hub
FROM a8n a JOIN h8n h ON a.id = h.id
ORDER BY auth DESC, a.id LIMIT 20""",
        "kg_eigenvector": f"""WITH {PAIRS_CTE},
{_EIG_CTES}
SELECT id, ROUND(score, 6) AS score FROM exn ORDER BY score DESC, id LIMIT 20""",
        "kg_graph_growth": f"""WITH {PAIRS_CTE},
nf AS (SELECT concept_id, MIN(CAST(FLOOR(CAST(chunk_id AS BIGINT) / 60) AS BIGINT)) AS h
       FROM mentions GROUP BY concept_id),
gnn AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS new_nodes FROM nf GROUP BY h),
ef AS (SELECT a_id, b_id, MIN(CAST(FLOOR(CAST(window_id AS BIGINT) / 60) AS BIGINT)) AS h
       FROM pairs WHERE a_id <> b_id GROUP BY a_id, b_id),
gee AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS new_edges FROM ef GROUP BY h),
ghs AS (SELECT h FROM gnn UNION SELECT h FROM gee),
gj AS (SELECT ghs.h, CAST(COALESCE(gnn.new_nodes, 0) AS BIGINT) AS new_nodes,
              CAST(COALESCE(gee.new_edges, 0) AS BIGINT) AS new_edges
       FROM ghs LEFT JOIN gnn USING (h) LEFT JOIN gee USING (h))
SELECT h, new_nodes, new_edges,
       CAST(SUM(new_nodes) OVER (ORDER BY h) AS BIGINT) AS cum_nodes,
       CAST(SUM(new_edges) OVER (ORDER BY h) AS BIGINT) AS cum_edges,
       ROUND(CAST(SUM(new_edges) OVER (ORDER BY h) AS DOUBLE)
             / SUM(new_nodes) OVER (ORDER BY h), 6) AS densification
FROM gj ORDER BY h""",
        "kg_tie_strength": f"""WITH {PAIRS_CTE},
te AS MATERIALIZED (
  SELECT DISTINCT LEAST(a_id, b_id) AS lo, GREATEST(a_id, b_id) AS hi
  FROM pairs WHERE a_id <> b_id),
tdeg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
  SELECT lo AS id FROM te UNION ALL SELECT hi FROM te) GROUP BY id),
ttri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM te e1 JOIN te e2 ON e1.hi = e2.lo
  JOIN te e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
tsup AS (SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS support FROM (
  SELECT a AS lo, b AS hi FROM ttri UNION ALL SELECT a, c FROM ttri
  UNION ALL SELECT b, c FROM ttri) GROUP BY lo, hi)
SELECT te.lo AS a_id, te.hi AS b_id, da.d AS degree_a, db.d AS degree_b,
       CAST(COALESCE(tsup.support, 0) AS BIGINT) AS common_nbrs,
       ROUND(CASE WHEN da.d + db.d - 2 - COALESCE(tsup.support, 0) = 0 THEN 0.0
             ELSE CAST(COALESCE(tsup.support, 0) AS DOUBLE)
                  / (da.d + db.d - 2 - COALESCE(tsup.support, 0)) END, 6) AS embeddedness
FROM te JOIN tdeg da ON te.lo = da.id JOIN tdeg db ON te.hi = db.id
LEFT JOIN tsup ON te.lo = tsup.lo AND te.hi = tsup.hi
ORDER BY embeddedness DESC, a_id, b_id LIMIT 50""",
        "kg_source_reliability": f"""WITH {TRIPLES_CTE},
srsup AS (SELECT subj_id, predicate, obj_id,
                 CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS support
          FROM triples GROUP BY subj_id, predicate, obj_id),
srta AS (SELECT DISTINCT chunk_id, subj_id, predicate, obj_id FROM triples),
srsrc AS (SELECT CAST(doc_id AS VARCHAR) AS chunk_id, source FROM documents),
srj AS (SELECT DISTINCT s.source, ta.subj_id, ta.predicate, ta.obj_id, sup.support
        FROM srta ta JOIN srsrc s USING (chunk_id)
        JOIN srsup sup USING (subj_id, predicate, obj_id))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(SUM(CASE WHEN support >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS corroborated,
       ROUND(CAST(SUM(CASE WHEN support >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS corroboration_rate
FROM srj GROUP BY source ORDER BY source""",
        "kg_evidence_freshness": f"""WITH {TRIPLES_CTE},
effresh AS (SELECT subj_id, predicate, obj_id,
                   MAX(CAST(chunk_id AS BIGINT)) AS latest
            FROM triples GROUP BY subj_id, predicate, obj_id),
efage AS (SELECT predicate,
                 (SELECT MAX(latest) FROM effresh) - latest AS age_sec
          FROM effresh)
SELECT predicate, CAST(COUNT(*) AS BIGINT) AS n_triples,
       ROUND(SUM(age_sec) / (60.0 * COUNT(*)), 6) AS avg_age_min,
       ROUND(MAX(age_sec) / 60.0, 6) AS max_age_min,
       ROUND(CAST(SUM(CASE WHEN age_sec > 120 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS stale_share
FROM efage GROUP BY predicate ORDER BY predicate""",
        "kg_spam_mass": _spam_sql,
        "kg_peripheral_concepts": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS concept_id, b_id AS n FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
deg AS (SELECT concept_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM und GROUP BY concept_id),
mc AS (SELECT concept_id, MIN(lemma) AS lemma,
              CAST(COUNT(*) AS BIGINT) AS n_mentions,
              CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_chunks
       FROM mentions GROUP BY concept_id)
SELECT mc.concept_id, mc.lemma,
       CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree,
       mc.n_mentions, mc.n_chunks
FROM mc LEFT JOIN deg USING (concept_id)
ORDER BY degree, concept_id LIMIT 25""",
        "kg_community_bridges": f"""WITH {PAIRS_CTE},
{_lpa_base},
pf AS (SELECT a_id, b_id, CAST(SUM(freq) AS BIGINT) AS weight
       FROM pairs GROUP BY a_id, b_id)
SELECT pf.a_id, pf.b_id, pf.weight,
       LEAST(la.label, lb.label) AS label_a,
       GREATEST(la.label, lb.label) AS label_b
FROM pf JOIN l5 la ON pf.a_id = la.id JOIN l5 lb ON pf.b_id = lb.id
WHERE la.label <> lb.label
ORDER BY pf.weight DESC, pf.a_id, pf.b_id LIMIT 50""",
        "kg_metapath_counts": f"""WITH {TRIPLES_CTE},
e AS (SELECT DISTINCT subj_id, predicate, obj_id FROM triples),
deg AS (SELECT id FROM (
          SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT subj_id AS id FROM e UNION ALL SELECT obj_id FROM e)
          GROUP BY id) WHERE d <= 128),
f AS (SELECT e.predicate AS rel1, e.obj_id AS mid
      FROM e JOIN deg ON e.obj_id = deg.id),
s2 AS (SELECT subj_id AS mid, predicate AS rel2 FROM e)
SELECT f.rel1, s2.rel2,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT f.mid) AS BIGINT) AS n_mids
FROM f JOIN s2 USING (mid)
GROUP BY f.rel1, s2.rel2 ORDER BY f.rel1, s2.rel2""",
        "kg_typed_degrees": f"""WITH {TRIPLES_CTE},
o AS (SELECT subj_id AS id,
             CAST(SUM(CASE WHEN predicate = 'is_a' THEN 1 ELSE 0 END) AS BIGINT) AS out_is_a,
             CAST(SUM(CASE WHEN predicate = 'part_of' THEN 1 ELSE 0 END) AS BIGINT) AS out_part_of,
             CAST(SUM(CASE WHEN predicate = 'causes' THEN 1 ELSE 0 END) AS BIGINT) AS out_causes,
             CAST(SUM(CASE WHEN predicate = 'related_to' THEN 1 ELSE 0 END) AS BIGINT) AS out_related,
             CAST(COUNT(*) AS BIGINT) AS out_total
      FROM triples GROUP BY subj_id),
i AS (SELECT obj_id AS id,
             CAST(SUM(CASE WHEN predicate = 'is_a' THEN 1 ELSE 0 END) AS BIGINT) AS in_is_a,
             CAST(SUM(CASE WHEN predicate = 'part_of' THEN 1 ELSE 0 END) AS BIGINT) AS in_part_of,
             CAST(SUM(CASE WHEN predicate = 'causes' THEN 1 ELSE 0 END) AS BIGINT) AS in_causes,
             CAST(SUM(CASE WHEN predicate = 'related_to' THEN 1 ELSE 0 END) AS BIGINT) AS in_related,
             CAST(COUNT(*) AS BIGINT) AS in_total
      FROM triples GROUP BY obj_id)
SELECT COALESCE(o.id, i.id) AS id, CAST(COALESCE(out_is_a, 0) AS BIGINT) AS out_is_a, CAST(COALESCE(out_part_of, 0) AS BIGINT) AS out_part_of, CAST(COALESCE(out_causes, 0) AS BIGINT) AS out_causes, CAST(COALESCE(out_related, 0) AS BIGINT) AS out_related, CAST(COALESCE(out_total, 0) AS BIGINT) AS out_total, CAST(COALESCE(in_is_a, 0) AS BIGINT) AS in_is_a, CAST(COALESCE(in_part_of, 0) AS BIGINT) AS in_part_of, CAST(COALESCE(in_causes, 0) AS BIGINT) AS in_causes, CAST(COALESCE(in_related, 0) AS BIGINT) AS in_related, CAST(COALESCE(in_total, 0) AS BIGINT) AS in_total
FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""",
        "kg_related_chunks": f"""WITH {MENTIONS_CTE},
mc AS (SELECT DISTINCT chunk_id, concept_id FROM mentions),
keep AS (SELECT concept_id FROM mc GROUP BY concept_id HAVING COUNT(*) <= 20),
g AS (SELECT mc.chunk_id, mc.concept_id FROM mc JOIN keep USING (concept_id)),
sizes AS (SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY chunk_id),
p AS (SELECT a.chunk_id AS chunk_a, b.chunk_id AS chunk_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM g a JOIN g b ON a.concept_id = b.concept_id AND a.chunk_id < b.chunk_id
      GROUP BY a.chunk_id, b.chunk_id HAVING COUNT(*) >= 2)
SELECT p.chunk_a, p.chunk_b, p.shared, sa.n AS na, sb.n AS nb,
       ROUND(CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared), 6) AS jaccard
FROM p JOIN sizes sa ON p.chunk_a = sa.chunk_id
       JOIN sizes sb ON p.chunk_b = sb.chunk_id
ORDER BY p.shared DESC, p.chunk_a, p.chunk_b LIMIT 100""",
        "kg_egonet_anomaly": f"""WITH {PAIRS_CTE},
{_tri_ctes},
per AS (SELECT deg.id, deg.degree,
               deg.degree + COALESCE(c.triangles, 0) AS ego_edges
        FROM deg LEFT JOIN corners c ON deg.id = c.id),
s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(ln(CAST(degree AS DOUBLE))) AS sx,
             SUM(ln(CAST(ego_edges AS DOUBLE))) AS sy,
             SUM(ln(CAST(degree AS DOUBLE)) * ln(CAST(ego_edges AS DOUBLE))) AS sxy,
             SUM(ln(CAST(degree AS DOUBLE)) * ln(CAST(degree AS DOUBLE))) AS sxx
      FROM per),
aa AS (SELECT CASE WHEN n * sxx - sx * sx > 0
                   THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 8)
                   ELSE 0.0 END AS a, n, sx, sy FROM s),
ab AS (SELECT a, CASE WHEN n > 0 THEN ROUND((sy - a * sx) / n, 8) ELSE 0.0 END AS b
       FROM aa)
SELECT p.id, p.degree, p.ego_edges,
       ROUND(ab.b + ab.a * ln(CAST(p.degree AS DOUBLE)), 6) AS expected_ln,
       ROUND(ABS(ln(CAST(p.ego_edges AS DOUBLE))
                 - (ab.b + ab.a * ln(CAST(p.degree AS DOUBLE)))), 6) AS residual,
       ABS(ln(CAST(p.ego_edges AS DOUBLE))
           - (ab.b + ab.a * ln(CAST(p.degree AS DOUBLE)))) > 1.0 AS is_anomalous
FROM per p, ab ORDER BY p.id""",
        "kg_dag_paths": f"""WITH {TRIPLES_CTE},
isa AS (SELECT DISTINCT subj_id AS desc_id, obj_id AS anc_id FROM triples
        WHERE predicate = 'is_a' AND subj_id <> obj_id),
p1 AS (SELECT desc_id, anc_id, CAST(1 AS BIGINT) AS n, 1 AS depth FROM isa)"""
        + "".join(
            f""",
p{d} AS (SELECT c.desc_id, i.anc_id, SUM(c.n) AS n, {d} AS depth
        FROM p{d - 1} c JOIN isa i ON c.anc_id = i.desc_id
        WHERE c.desc_id <> i.anc_id GROUP BY c.desc_id, i.anc_id)"""
            for d in range(2, 5)
        )
        + """
SELECT desc_id, anc_id, CAST(SUM(n) AS BIGINT) AS n_paths,
       CAST(MIN(depth) AS INT) AS min_depth
FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
GROUP BY desc_id, anc_id ORDER BY desc_id, anc_id""",
        "kg_topo_layers": f"""WITH {TRIPLES_CTE},
isa AS (SELECT DISTINCT subj_id AS child_id, obj_id AS parent_id FROM triples
        WHERE predicate = 'is_a' AND subj_id <> obj_id),
l0 AS (SELECT id, 0 AS layer FROM
       (SELECT child_id AS id FROM isa UNION SELECT parent_id FROM isa))"""
        + "".join(
            f""",
l{d} AS (SELECT id, MAX(layer) AS layer FROM (
  SELECT id, layer FROM l{d - 1}
  UNION ALL
  SELECT i.child_id, l.layer + 1 FROM l{d - 1} l JOIN isa i ON l.id = i.parent_id
) GROUP BY id)"""
            for d in range(1, 5)
        )
        + """,
p AS (SELECT child_id AS id, CAST(COUNT(*) AS BIGINT) AS n_parents
      FROM isa GROUP BY child_id)
SELECT l4.id, CAST(l4.layer AS INT) AS layer,
       CAST(COALESCE(p.n_parents, 0) AS BIGINT) AS n_parents,
       COALESCE(p.n_parents, 0) = 0 AS is_root
FROM l4 LEFT JOIN p USING (id) ORDER BY id""",
        "kg_taxonomy_closure": f"""WITH {TRIPLES_CTE},
{_ISA_CLOSURE_CTES}
SELECT desc_id, anc_id, CAST(depth AS INT) AS depth FROM c4 ORDER BY desc_id, anc_id""",
        "kg_taxonomy_rollup": f"""WITH {TRIPLES_CTE},
{_ISA_CLOSURE_CTES},
mc AS (SELECT concept_id, CAST(COUNT(*) AS BIGINT) AS n_mentions FROM mentions GROUP BY concept_id),
dsc AS (SELECT c.anc_id, CAST(COUNT(*) AS BIGINT) AS n_desc,
               CAST(SUM(COALESCE(m.n_mentions, 0)) AS BIGINT) AS desc_mentions
        FROM c4 c LEFT JOIN mc m ON c.desc_id = m.concept_id GROUP BY c.anc_id)
SELECT d.anc_id, d.n_desc, CAST(COALESCE(m.n_mentions, 0) AS BIGINT) AS self_mentions,
       CAST(COALESCE(m.n_mentions, 0) + d.desc_mentions AS BIGINT) AS total_mentions
FROM dsc d LEFT JOIN mc m ON d.anc_id = m.concept_id
ORDER BY total_mentions DESC, anc_id LIMIT 100""",
        "kg_ktruss": _ktruss_sql(12, 3),
        # harmonic centrality: forward BFS of the betweenness CTEs
        # (shared generator, forward_only) -> SUM(1/d) over sources.
        "kg_harmonic": f"""WITH {PAIRS_CTE},
{_betweenness_ctes(_PPR_SEED_LEMMAS, 4, forward_only=True)}
SELECT v AS id, ROUND(SUM(1.0 / d), 6) AS harmonic
FROM bvis4 WHERE d > 0 GROUP BY v ORDER BY harmonic DESC, id LIMIT 20""",
        # URL quality gate: per-row expressions replayed verbatim —
        # DuckDB regexp_replace needs the explicit 'g' flag (Spark's
        # is global by default); single-'?' URLs make split_part ==
        # substring_index(-1)
        "kg_svo_triples": f"""WITH {_SVO_CTES}
SELECT predicate, subj, obj,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_matches
FROM svo GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
        "kg_svo_linked": f"""WITH {MENTIONS_CTE}, {_SVO_CTES},
vocab AS (SELECT DISTINCT lemma, concept_id FROM mentions),
args AS (SELECT doc_id, predicate,
  replace(subj, ' ', '_') AS sfull, (string_split(subj, ' '))[-1] AS shead,
  replace(obj, ' ', '_') AS ofull, (string_split(obj, ' '))[-1] AS ohead
FROM svo),
res AS (SELECT a.doc_id, a.predicate,
  COALESCE(vf.concept_id, vh.concept_id) AS subj_id,
  COALESCE(vf.lemma, vh.lemma) AS subj_lemma,
  COALESCE(wf.concept_id, wh.concept_id) AS obj_id,
  COALESCE(wf.lemma, wh.lemma) AS obj_lemma
FROM args a
LEFT JOIN vocab vf ON a.sfull = vf.lemma
LEFT JOIN vocab vh ON a.shead = vh.lemma
LEFT JOIN vocab wf ON a.ofull = wf.lemma
LEFT JOIN vocab wh ON a.ohead = wh.lemma)
SELECT predicate, subj_id, subj_lemma, obj_id, obj_lemma,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_matches
FROM res WHERE subj_id IS NOT NULL AND obj_id IS NOT NULL
GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5""",
        "kg_wl_labels": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
wl0 AS MATERIALIZED (SELECT cid AS id, CAST(COUNT(*) AS VARCHAR) AS lb FROM und GROUP BY cid)"""
        + "".join(
            f""",
ws{k} AS (SELECT u.cid AS id, CAST(SUM({_nib32_expr("md5(l.lb)")}) AS VARCHAR) AS ms
        FROM und u JOIN wl{k - 1} l ON u.nbr_id = l.id GROUP BY u.cid),
wl{k} AS MATERIALIZED (SELECT w.id, substr(md5(w.lb || '|' || s.ms), 1, 16) AS lb
        FROM wl{k - 1} w JOIN ws{k} s ON w.id = s.id)"""
            for k in range(1, 4)
        )
        + """
SELECT id AS concept_id, lb AS wl_label FROM wl3 ORDER BY concept_id""",
        # BPE tokenizer training: 5 unrolled merge rounds (wordcount ->
        # pair agg -> argmax -> list_reduce greedy fold), generator
        # docstring has the fold-equivalence argument
        # greedy-equivalent maximal matching, 8 unrolled rounds
        # (fixpoint <= 6 at both SFs; extras no-op)
        "kg_maximal_matching": f"WITH {PAIRS_CTE},{_matching_sql(8)}",
        "kg_vertex_cover": f"""WITH {PAIRS_CTE},{_matching_sql(8, final="SELECT id FROM (SELECT a_id AS id FROM mmat_8 UNION SELECT b_id FROM mmat_8) ORDER BY id")}""",
        "kg_label_spreading": f"""WITH {PAIRS_CTE},
{_label_spreading_sql(5)}""",
        "kg_centralization": f"""WITH {PAIRS_CTE},
cadj0 AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
cadj AS (SELECT cid, nbr_id FROM cadj0 WHERE cid <> nbr_id),
cdeg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS d FROM cadj GROUP BY cid),
cag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(d) AS BIGINT) AS mx,
               CAST(SUM(d) AS BIGINT) AS sd FROM cdeg)
SELECT n AS n_nodes, mx AS max_degree,
       ROUND(CAST(n * mx - sd AS DOUBLE) / ((n - 1) * (n - 2)), 6) AS centralization
FROM cag""",
        "kg_reciprocity": f"""WITH {TRIPLES_CTE},
re AS MATERIALIZED (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM triples WHERE subj_id <> obj_id),
rr AS (SELECT CAST(COUNT(*) AS BIGINT) AS r FROM re a
       WHERE EXISTS (SELECT 1 FROM re b WHERE b.src = a.dst AND b.dst = a.src)),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM re)
SELECT nn.n AS n_edges, rr.r AS n_reciprocal,
       ROUND(CAST(rr.r AS DOUBLE) / nn.n, 6) AS reciprocity
FROM nn CROSS JOIN rr""",
        # confidence calibration: assertions vs distinct triples per
        # (predicate, confidence) level
        "kg_confidence_calibration": f"""WITH {TRIPLES_CTE}
SELECT predicate, confidence, CAST(COUNT(*) AS BIGINT) AS n_assertions,
       CAST(COUNT(DISTINCT (subj_id, obj_id)) AS BIGINT) AS n_triples,
       ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT (subj_id, obj_id)), 6) AS assertions_per_triple
FROM triples GROUP BY predicate, confidence ORDER BY predicate, confidence""",
        # landmark distance oracle: one unrolled multi-source BFS over
        # landmarks+samples; est = min_l d(a,l)+d(l,b)
        "kg_landmark_distances": f"""WITH {PAIRS_CTE},
lund AS MATERIALIZED (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs
                      UNION SELECT b_id, a_id FROM pairs),
ladj AS MATERIALIZED (SELECT cid, nbr_id FROM lund WHERE cid <> nbr_id),
lrank AS (SELECT id, ROW_NUMBER() OVER (ORDER BY md5(id)) AS rn
          FROM (SELECT DISTINCT cid AS id FROM lund)),
lsrc AS MATERIALIZED (SELECT id AS s, rn <= 4 AS is_landmark FROM lrank WHERE rn <= 14),
lv0 AS MATERIALIZED (SELECT s, s AS v, 0 AS d FROM lsrc),
lvis0 AS MATERIALIZED (SELECT * FROM lv0)"""
        + "".join(
            f""",
lf{k} AS (SELECT DISTINCT x.s, a.nbr_id AS v FROM lv{k - 1} x JOIN ladj a ON a.cid = x.v),
lv{k} AS MATERIALIZED (SELECT f.s, f.v, {k} AS d FROM lf{k} f
  ANTI JOIN lvis{k - 1} vv ON f.s = vv.s AND f.v = vv.v),
lvis{k} AS MATERIALIZED (SELECT * FROM lvis{k - 1} UNION ALL SELECT * FROM lv{k})"""
            for k in range(1, 5)
        )
        + """,
lsamp AS (SELECT s FROM lsrc WHERE NOT is_landmark),
lex AS (SELECT x.s AS a_id, x.v AS b_id, CAST(x.d AS INT) AS exact_dist
        FROM lvis4 x
        WHERE x.s IN (SELECT s FROM lsamp) AND x.v IN (SELECT s FROM lsamp)
          AND x.s < x.v),
llab AS (SELECT x.s AS l, x.v, x.d FROM lvis4 x
         WHERE x.s IN (SELECT s FROM lsrc WHERE is_landmark)
           AND x.v IN (SELECT s FROM lsamp)),
les AS (SELECT la.v AS a_id, lb.v AS b_id, CAST(MIN(la.d + lb.d) AS INT) AS est_dist
        FROM llab la JOIN llab lb ON la.l = lb.l
        WHERE la.v < lb.v GROUP BY la.v, lb.v)
SELECT e.a_id, e.b_id, e.exact_dist, s.est_dist,
       ROUND(CAST(s.est_dist AS DOUBLE) / e.exact_dist, 6) AS stretch
FROM lex e LEFT JOIN les s ON e.a_id = s.a_id AND e.b_id = s.b_id
ORDER BY e.a_id, e.b_id""",
        # typed triangles: capped-mid wedge + closing equi-join
        "kg_typed_triangles": f"""WITH {TRIPLES_CTE},
tte AS (SELECT DISTINCT subj_id, predicate, obj_id FROM triples),
ttdeg AS (SELECT id FROM (
    SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
      SELECT subj_id AS id FROM tte UNION ALL SELECT obj_id FROM tte) GROUP BY id)
  WHERE d <= 128),
ttw AS (SELECT f.subj_id AS x, f.predicate AS rel1, f.obj_id AS mid,
               s.predicate AS rel2, s.obj_id AS y
        FROM tte f JOIN ttdeg d ON f.obj_id = d.id
        JOIN tte s ON s.subj_id = f.obj_id
        WHERE f.subj_id <> s.obj_id)
SELECT w.rel1, w.rel2, c.predicate AS rel3,
       CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(COUNT(DISTINCT w.mid) AS BIGINT) AS n_mids
FROM ttw w JOIN tte c ON c.subj_id = w.x AND c.obj_id = w.y
GROUP BY w.rel1, w.rel2, c.predicate
ORDER BY w.rel1, w.rel2, rel3""",
        # alias census: one concept-keyed agg over mentions
        "kg_alias_census": f"""WITH {MENTIONS_CTE}
SELECT concept_id, MIN(lemma) AS lemma,
       CAST(COUNT(DISTINCT surface) AS BIGINT) AS n_surfaces,
       CAST(COUNT(DISTINCT origin) AS BIGINT) AS n_origins,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT chunk_id) AS BIGINT) AS n_chunks
FROM mentions GROUP BY concept_id ORDER BY concept_id""",
        # RPQ is_a*/part_of: depth-bounded closure + identity, one
        # equi-join with the final predicate, MIN over converging paths
        "kg_rpq_reachability": f"""WITH {TRIPLES_CTE},
{_ISA_CLOSURE_CTES},
rqnodes AS (SELECT DISTINCT subj_id AS id FROM triples UNION SELECT obj_id FROM triples),
rqclo AS (SELECT desc_id, anc_id, depth FROM c4
          UNION ALL SELECT id, id, 0 FROM rqnodes),
rqfin AS (SELECT DISTINCT subj_id AS anc_id, obj_id AS dst_id FROM triples
          WHERE predicate = 'part_of')
SELECT r.desc_id AS src_id, f.dst_id, CAST(MIN(r.depth) AS INT) AS min_star_hops
FROM rqclo r JOIN rqfin f ON r.anc_id = f.anc_id
GROUP BY r.desc_id, f.dst_id ORDER BY src_id, dst_id""",
        # Wu-Palmer: ancestors-or-self self-join, deepest common
        # subsumer via two-aggregate argmax, layer-based depths
        "kg_wu_palmer": f"""WITH {TRIPLES_CTE},
{_ISA_CLOSURE_CTES},
wl0 AS (SELECT id, 0 AS layer FROM
        (SELECT desc_id AS id FROM isa UNION SELECT anc_id FROM isa))"""
        + "".join(
            f""",
wl{d} AS (SELECT id, MAX(layer) AS layer FROM (
  SELECT id, layer FROM wl{d - 1}
  UNION ALL
  SELECT i.desc_id, l.layer + 1 FROM wl{d - 1} l JOIN isa i ON l.id = i.anc_id
) GROUP BY id)"""
            for d in range(1, 5)
        )
        + """,
wanc AS (SELECT desc_id AS node, anc_id AS anc FROM c4
         UNION SELECT id, id FROM wl0),
wcom AS (SELECT a.node AS a, b.node AS b, a.anc, lc.layer AS lc
         FROM wanc a JOIN wanc b ON a.anc = b.anc AND a.node < b.node
         JOIN wl4 lc ON lc.id = a.anc),
wbest AS (SELECT a, b, MAX(lc) AS lca_layer FROM wcom GROUP BY a, b),
wlca AS (SELECT c.a, c.b, w.lca_layer, MIN(c.anc) AS lca_id
         FROM wcom c JOIN wbest w ON c.a = w.a AND c.b = w.b AND c.lc = w.lca_layer
         GROUP BY c.a, c.b, w.lca_layer)
SELECT l.a AS a_id, l.b AS b_id, l.lca_id, CAST(l.lca_layer AS INT) AS lca_layer,
       ROUND(2.0 * (l.lca_layer + 1) / ((la.layer + 1) + (lb.layer + 1)), 6) AS score
FROM wlca l JOIN wl4 la ON la.id = l.a JOIN wl4 lb ON lb.id = l.b
ORDER BY score DESC, a_id, b_id LIMIT 50""",
        # attack tolerance: three recursive closures over hub-filtered
        # edge sets; singleton survivors counted as components
        "kg_attack_tolerance": f"""WITH RECURSIVE {PAIRS_CTE},
au AS MATERIALIZED (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v
                    FROM pairs WHERE a_id <> b_id),
adeg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS id FROM au UNION ALL SELECT v FROM au) GROUP BY id),
athub AS MATERIALIZED (SELECT id, ROW_NUMBER() OVER (ORDER BY d DESC, id) AS rn FROM adeg)
{_attack_block(0)}{_attack_block(5)}{_attack_block(20)}
SELECT k_removed, n_nodes, n_edges,
       n_cc + (n_nodes - covered) AS n_components,
       GREATEST(largest0, CASE WHEN n_nodes - covered > 0 THEN 1 ELSE 0 END) AS largest_cc,
       ROUND(CAST(GREATEST(largest0, CASE WHEN n_nodes - covered > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / n_nodes, 6) AS largest_frac
FROM (SELECT * FROM ast0 UNION ALL SELECT * FROM ast5 UNION ALL SELECT * FROM ast20)
ORDER BY k_removed""",
        # simrank: 2 unrolled iterations, ROUND-6 per round, diagonal
        # re-unioned each step; top-50 on the ROUNDED score
        "kg_simrank": f"""WITH {PAIRS_CTE},
su AS MATERIALIZED (
  SELECT DISTINCT a_id AS node, b_id AS nbr FROM pairs WHERE a_id <> b_id
  UNION
  SELECT DISTINCT b_id, a_id FROM pairs WHERE a_id <> b_id),
sdeg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM su GROUP BY node),
sr0 AS (SELECT node AS i, node AS j, CAST(1.0 AS DECIMAL(18,6)) AS v FROM sdeg),
srt1 AS (SELECT ua.node AS a, ub.node AS b,
                CAST(ROUND(0.8 * CAST(SUM(s.v) AS DOUBLE) / (da.d * db.d), 6) AS DECIMAL(18,6)) AS v
         FROM su ua JOIN sr0 s ON ua.nbr = s.i JOIN su ub ON s.j = ub.nbr
         JOIN sdeg da ON da.node = ua.node JOIN sdeg db ON db.node = ub.node
         WHERE ua.node <> ub.node GROUP BY ua.node, ub.node, da.d, db.d),
sr1 AS MATERIALIZED (SELECT a AS i, b AS j, v FROM srt1
                     UNION ALL SELECT node, node, CAST(1.0 AS DECIMAL(18,6)) FROM sdeg),
srt2 AS (SELECT ua.node AS a, ub.node AS b,
                CAST(ROUND(0.8 * CAST(SUM(s.v) AS DOUBLE) / (da.d * db.d), 6) AS DECIMAL(18,6)) AS v
         FROM su ua JOIN sr1 s ON ua.nbr = s.i JOIN su ub ON s.j = ub.nbr
         JOIN sdeg da ON da.node = ua.node JOIN sdeg db ON db.node = ub.node
         WHERE ua.node <> ub.node GROUP BY ua.node, ub.node, da.d, db.d)
SELECT a AS a_id, b AS b_id, CAST(v AS DOUBLE) AS simrank FROM srt2
WHERE a < b ORDER BY v DESC, a_id, b_id LIMIT 50""",
        # Borůvka max spanning forest, 8 unrolled rounds (>= log2 of
        # the 131-concept graph; extra rounds no-op at the fixpoint)
        "kg_spanning_forest": _msf_sql(8).format(pairs=PAIRS_CTE),
        # JP coloring of the Borůvka backbone: 10 unrolled rounds
        # (fixpoint <= 8 at both SFs; extras no-op)
        "kg_graph_coloring": _coloring_sql(8, 10).format(pairs=PAIRS_CTE),
        # assortativity: every aggregate an exact integer (or exact
        # multiple of 0.5) in double until the one final division —
        # bit-identical across engines regardless of sum order
        "kg_assortativity": f"""WITH {PAIRS_CTE},
adj0 AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM adj0 WHERE cid <> nbr_id),
deg AS (SELECT cid AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY cid),
st AS (SELECT da.degree AS j, db.degree AS k
       FROM adj a JOIN deg da ON a.cid = da.id JOIN deg db ON a.nbr_id = db.id),
ag AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m,
              CAST(SUM(j * k) AS DOUBLE) AS sjk,
              SUM((j + k) / 2.0) AS sj,
              SUM((j * j + k * k) / 2.0) AS sj2 FROM st),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)
SELECT nn.n AS n_nodes, CAST(ag.m / 2 AS BIGINT) AS n_edges,
       ROUND((sjk / m - (sj / m) * (sj / m))
             / (sj2 / m - (sj / m) * (sj / m)), 6) AS r
FROM ag CROSS JOIN nn""",
        "kg_katz": f"""WITH {TRIPLES_CTE},
{_KATZ_CTES}
SELECT id, ROUND(x, 6) AS katz FROM x8 ORDER BY katz DESC, id LIMIT 20""",
        # densest subgraph: unrolled Bahmani peeling over the shared
        # und adjacency; best-of-first-8-iterates at eps=0.1
        "kg_densest_subgraph": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
{_densest_ctes(0.1, 8)}
SELECT nd.cid AS concept_id, b.density FROM nd JOIN best b ON nd.rnd = b.rnd
ORDER BY concept_id""",
        # eccentricity lower bounds: the same forward BFS, MAX(d)
        "kg_eccentricity": f"""WITH {PAIRS_CTE},
{_betweenness_ctes(_PPR_SEED_LEMMAS, 6, forward_only=True)}
SELECT v AS id, MAX(d) AS ecc_lb
FROM bvis6 GROUP BY v ORDER BY ecc_lb DESC, id LIMIT 20""",
        # hop-distance distribution + effective diameter: the same
        # forward BFS; cumulative/total windows over <= 6 hop rows;
        # the 90th-percentile flag decided in pure BIGINT arithmetic
        "kg_distance_distribution": f"""WITH {PAIRS_CTE},
{_betweenness_ctes(_PPR_SEED_LEMMAS, 6, forward_only=True)},
ddhist AS (SELECT d, COUNT(*) AS n_pairs FROM bvis6 WHERE d > 0 GROUP BY d),
ddcum AS (SELECT d, n_pairs,
    CAST(SUM(n_pairs) OVER (ORDER BY d) AS BIGINT) AS cum_pairs,
    CAST(SUM(n_pairs) OVER () AS BIGINT) AS total
  FROM ddhist)
SELECT d, n_pairs, cum_pairs,
  ROUND(CAST(cum_pairs AS DOUBLE) / total, 6) AS cum_frac,
  cum_pairs * 1000000 >= total * 900000
    AND COALESCE(LAG(cum_pairs) OVER (ORDER BY d), 0) * 1000000 < total * 900000
    AS eff_diameter
FROM ddcum ORDER BY d""",
        # 4-cycle count: exact on the deg<=64 subgraph; each square
        # counted at both diagonals, so sum C(c,2) / 2 — all BIGINT
        "kg_squares": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj0 AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
keep AS (SELECT cid FROM adj0 GROUP BY cid HAVING COUNT(*) <= 64),
adj AS (SELECT a.cid, a.nbr_id FROM adj0 a
        SEMI JOIN keep k1 ON a.cid = k1.cid
        SEMI JOIN keep k2 ON a.nbr_id = k2.cid),
diag AS (SELECT n1.nbr_id AS u, n2.nbr_id AS w, CAST(COUNT(*) AS BIGINT) AS c
         FROM adj n1 JOIN adj n2 ON n1.cid = n2.cid AND n1.nbr_id < n2.nbr_id
         GROUP BY n1.nbr_id, n2.nbr_id)
SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) / 4 AS BIGINT) AS n_squares,
       CAST(COUNT(*) AS BIGINT) AS n_diag_pairs,
       CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_common
FROM diag""",
        # rich-club coefficient: N_k / E_k at exploded log2 thresholds,
        # BIGINT counts, one guarded division per row
        "kg_rich_club": f"""WITH {PAIRS_CTE},
und AS (SELECT DISTINCT a_id AS cid, b_id AS nbr_id FROM pairs UNION SELECT b_id, a_id FROM pairs),
adj AS (SELECT cid, nbr_id FROM und WHERE cid <> nbr_id),
deg AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY cid),
ks AS (SELECT UNNEST([1, 2, 4, 8, 16, 32, 64]) AS k),
nodes_k AS (SELECT k, CAST(SUM(CASE WHEN deg > k THEN 1 ELSE 0 END) AS BIGINT) AS n_nodes
            FROM deg, ks GROUP BY k),
e AS (SELECT DISTINCT LEAST(cid, nbr_id) AS a, GREATEST(cid, nbr_id) AS b FROM adj),
emin AS (SELECT LEAST(da.deg, db.deg) AS mindeg
         FROM e JOIN deg da ON e.a = da.cid JOIN deg db ON e.b = db.cid),
edges_k AS (SELECT k, CAST(SUM(CASE WHEN mindeg > k THEN 1 ELSE 0 END) AS BIGINT) AS n_edges
            FROM emin, ks GROUP BY k)
SELECT n.k, n.n_nodes, ek.n_edges,
       CASE WHEN n.n_nodes >= 2
            THEN ROUND(2.0 * ek.n_edges / (n.n_nodes * (n.n_nodes - 1)), 6)
       END AS phi
FROM nodes_k n JOIN edges_k ek ON n.k = ek.k ORDER BY n.k""",
        # bow-tie decomposition: largest SCC as CORE (kg_scc's exact
        # recursive reachability + mutual-pair labeling), then pure
        # set algebra over the same closure for IN/OUT/TUBES/TENDRILS
        "kg_bowtie": f"""WITH {MENTIONS_CTE},
{_PRECEDENCE_CTES},
reach AS MATERIALIZED (
  WITH RECURSIVE r(a, b) AS (
    SELECT src_id, dst_id FROM sedges
    UNION
    SELECT r.a, e2.dst_id FROM r JOIN sedges e2 ON e2.src_id = r.b
  ) SELECT * FROM r),
mutual AS (SELECT r1.a AS id, MIN(r1.b) AS mn
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY r1.a),
snodes AS (SELECT src_id AS id FROM sedges UNION SELECT dst_id FROM sedges),
sccl AS MATERIALIZED (SELECT n.id, least(n.id, COALESCE(m.mn, n.id)) AS scc_id
       FROM snodes n LEFT JOIN mutual m ON m.id = n.id),
corelab AS (SELECT scc_id FROM sccl GROUP BY scc_id ORDER BY COUNT(*) DESC, scc_id LIMIT 1),
core AS MATERIALIZED (SELECT s.id FROM sccl s SEMI JOIN corelab c ON s.scc_id = c.scc_id),
rplus AS MATERIALIZED (SELECT id FROM core UNION SELECT r.b FROM reach r SEMI JOIN core c ON r.a = c.id),
rminus AS MATERIALIZED (SELECT id FROM core UNION SELECT r.a FROM reach r SEMI JOIN core c ON r.b = c.id),
inn AS MATERIALIZED (SELECT id FROM rminus EXCEPT SELECT id FROM core),
outt AS MATERIALIZED (SELECT id FROM rplus EXCEPT SELECT id FROM core),
fwdin AS MATERIALIZED (SELECT id FROM inn UNION SELECT r.b FROM reach r SEMI JOIN inn i ON r.a = i.id),
backout AS MATERIALIZED (SELECT id FROM outt UNION SELECT r.a FROM reach r SEMI JOIN outt o ON r.b = o.id),
known AS (SELECT id FROM core UNION SELECT id FROM inn UNION SELECT id FROM outt),
tubes AS MATERIALIZED (
  SELECT id FROM (SELECT id FROM fwdin INTERSECT SELECT id FROM backout)
  EXCEPT SELECT id FROM known),
tendrils AS (
  SELECT id FROM (SELECT id FROM fwdin UNION SELECT id FROM backout)
  EXCEPT SELECT id FROM known EXCEPT SELECT id FROM tubes),
disc AS (SELECT id FROM snodes EXCEPT SELECT id FROM known
         EXCEPT SELECT id FROM fwdin EXCEPT SELECT id FROM backout),
tagged AS (
  SELECT 'CORE' AS component, id FROM core
  UNION ALL SELECT 'IN', id FROM inn
  UNION ALL SELECT 'OUT', id FROM outt
  UNION ALL SELECT 'TUBES', id FROM tubes
  UNION ALL SELECT 'TENDRILS', id FROM tendrils
  UNION ALL SELECT 'DISCONNECTED', id FROM disc)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM tagged GROUP BY component ORDER BY component""",
        # source-pair shared-concept mirror detection: viral-concept
        # guard (spread <= 12), then a concept-keyed pair self-join
        "kg_source_overlap": f"""WITH {MENTIONS_CTE},
dsrc AS (SELECT CAST(doc_id AS VARCHAR) AS chunk_id, source FROM documents),
sconc AS (SELECT DISTINCT d.source, m.concept_id
          FROM mentions m JOIN dsrc d ON m.chunk_id = d.chunk_id),
keepc AS (SELECT concept_id FROM sconc GROUP BY concept_id HAVING COUNT(*) <= 12),
scf AS MATERIALIZED (SELECT s.source, s.concept_id FROM sconc s
       SEMI JOIN keepc k ON s.concept_id = k.concept_id),
nsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM scf GROUP BY source),
p AS (SELECT l.source AS source_a, r.source AS source_b, CAST(COUNT(*) AS BIGINT) AS shared
      FROM scf l JOIN scf r ON l.concept_id = r.concept_id AND l.source < r.source
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT p.source_a, p.source_b, p.shared, na.n AS na, nb.n AS nb,
       ROUND(CAST(p.shared AS DOUBLE) / (na.n + nb.n - p.shared), 6) AS jaccard
FROM p JOIN nsrc na ON na.source = p.source_a JOIN nsrc nb ON nb.source = p.source_b
ORDER BY shared DESC, source_a, source_b LIMIT 50""",
        # SCC over the concept precedence graph: the oracle is the
        # EXACT definition — recursive reachability closure, then
        # scc_id(v) = least(v, min mutually-reachable partner); the
        # Spark side's trim/color/mark peeling must land on the same
        # fixpoint regardless of its round structure.
        "kg_scc": f"""WITH {MENTIONS_CTE},
{_PRECEDENCE_CTES},
reach AS MATERIALIZED (
  WITH RECURSIVE r(a, b) AS (
    SELECT src_id, dst_id FROM sedges
    UNION
    SELECT r.a, e2.dst_id FROM r JOIN sedges e2 ON e2.src_id = r.b
  ) SELECT * FROM r),
mutual AS (SELECT r1.a AS id, MIN(r1.b) AS mn
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY r1.a),
snodes AS (SELECT src_id AS id FROM sedges UNION SELECT dst_id FROM sedges)
SELECT n.id, least(n.id, COALESCE(m.mn, n.id)) AS scc_id
FROM snodes n LEFT JOIN mutual m ON m.id = n.id ORDER BY n.id""",
        # triad census: the three motif classes as plain joins over
        # the precedence edges — triple-dedup via list_sort mirrors
        # motifs.triad_census's array_sort distinct.
        "kg_triad_census": f"""WITH {MENTIONS_CTE},
{_PRECEDENCE_CTES},
tlab AS (
  SELECT e1.src_id AS a, e1.dst_id AS b, e2.dst_id AS c
  FROM sedges e1
  JOIN sedges e2 ON e2.src_id = e1.dst_id
  JOIN sedges e3 ON e3.src_id = e1.src_id AND e3.dst_id = e2.dst_id
  WHERE e1.src_id <> e2.dst_id),
ttri AS (SELECT DISTINCT list_sort([a, b, c]) AS t FROM tlab),
clab AS (
  SELECT e1.src_id AS a, e1.dst_id AS b, e2.dst_id AS c
  FROM sedges e1
  JOIN sedges e2 ON e2.src_id = e1.dst_id
  JOIN sedges e3 ON e3.src_id = e2.dst_id AND e3.dst_id = e1.src_id
  WHERE e1.src_id <> e2.dst_id
    AND NOT EXISTS (SELECT 1 FROM sedges r WHERE r.src_id = e1.dst_id AND r.dst_id = e1.src_id)
    AND NOT EXISTS (SELECT 1 FROM sedges r WHERE r.src_id = e2.dst_id AND r.dst_id = e1.dst_id)
    AND NOT EXISTS (SELECT 1 FROM sedges r WHERE r.src_id = e1.src_id AND r.dst_id = e2.dst_id)),
ctri AS (SELECT DISTINCT list_sort([a, b, c]) AS t FROM clab),
wed AS (
  SELECT DISTINCT e1.dst_id AS b,
         least(e1.src_id, e2.dst_id) AS lo,
         greatest(e1.src_id, e2.dst_id) AS hi
  FROM sedges e1
  JOIN sedges e2 ON e2.src_id = e1.dst_id
  WHERE e1.src_id <> e2.dst_id
    AND NOT EXISTS (SELECT 1 FROM sedges x WHERE x.src_id = e1.src_id AND x.dst_id = e2.dst_id)
    AND NOT EXISTS (SELECT 1 FROM sedges x WHERE x.src_id = e2.dst_id AND x.dst_id = e1.src_id))
SELECT (SELECT COUNT(*) FROM ttri) AS n_transitive,
       (SELECT COUNT(*) FROM ctri) AS n_cyclic,
       (SELECT COUNT(*) FROM wed) AS n_open""",
    }
