"""Pure-Python reference semantics for the text/KG stages.

This module pins the EXACT per-record behavior of the reference engine
(`/root/reference`, surveyed in SURVEY.md §2.3/2.4) with zero Spark
imports.  It is the single source of truth consumed by

* the vectorized pandas UDFs in :mod:`..functions.concepts` and
  :mod:`..functions.html` (batch loops call these functions), and
* the golden-fixture generators in ``tests/`` (the P/R harness compares
  the distributed pipeline's triples against this implementation).

Reference citations (file:line under /root/reference):

* concept extraction regexes + stopwords:
  src/main/scala/graphrag/ingestion/ConceptExtractor.scala:46-57
* heuristic extraction order + filters: ConceptExtractor.scala:66-101
* lemma normalization: ConceptExtractor.scala:128-138
* concept-id = hex(sha256(lemma))[:16]: ConceptExtractor.scala:144-148
* co-occurrence pair generation: relation/CoOccurExtractor.scala:28-57
* PMI: CoOccurExtractor.scala:69-89
* deterministic scorer = the reference's regex-fallback verdict path
  (predicate default ``related_to``, confidence default 0.5, evidence
  truncated to 100 UTF-16 units): llm/RelationScorer.scala:129-152,
  threshold 0.65: application.conf:56
* evidence truncation to 500 UTF-16 units: GraphRagJob.scala:318
* relation-name sanitization: storage/Neo4jSink.scala:197
"""

from __future__ import annotations

import hashlib
import html as _htmlmod
import re
from typing import NamedTuple

# ---------------------------------------------------------------------------
# T1 — heuristic concept extraction
# ---------------------------------------------------------------------------

# Java and Python `re` agree on these patterns (no lookbehind/possessive);
# re.ASCII pins \b, \s, and character classes to the reference's
# ASCII-latin behavior on the fixture corpus.
CAPITALIZED_WORD = re.compile(r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\b", re.ASCII)
CAMEL_CASE = re.compile(r"\b[A-Z][a-z]+(?:[A-Z][a-z]+)+\b", re.ASCII)
ACRONYM = re.compile(r"\b[A-Z]{2,}\b", re.ASCII)
TECHNICAL_TERM = re.compile(r"\b[a-z]+(?:[A-Z][a-z]+)+\b", re.ASCII)

STOP_WORDS = frozenset(
    {
        "The", "This", "That", "These", "Those", "They", "There", "Then",
        "When", "Where", "What", "Which", "Who", "Why", "How",
        "Figure", "Table", "Section", "Chapter", "Page",
        "For", "From", "With", "Without", "About",
    }
)

PREDICATE_SET = frozenset({"is_a", "part_of", "causes", "synonym_of", "related_to"})
MIN_CONFIDENCE = 0.65  # application.conf:56
EVIDENCE_LIMIT = 500  # GraphRagJob.scala:318
FALLBACK_EVIDENCE_LIMIT = 100  # RelationScorer.scala:142

_CAMEL_SPLIT = re.compile(r"([a-z])([A-Z])")
_NON_LEMMA = re.compile(r"[^a-z0-9_]")
_UNDERSCORES = re.compile(r"_+")


class Concept(NamedTuple):
    concept_id: str
    lemma: str
    surface: str
    origin: str


def normalize_lemma(surface: str) -> str:
    """ConceptExtractor.scala:128-138 — camel-split, lower, clean."""
    words = _CAMEL_SPLIT.sub(r"\1_\2", surface)
    out = _UNDERSCORES.sub("_", _NON_LEMMA.sub("_", words.lower()))
    # stripPrefix/stripSuffix remove one '_' each; after the _+ collapse
    # there is at most one on each side, so strip() is equivalent.
    return out.strip("_")


def concept_id(lemma: str) -> str:
    """ConceptExtractor.scala:144-148 — hex(sha256(lemma utf-8))[:16]."""
    return hashlib.sha256(lemma.encode("utf-8")).hexdigest()[:16]


import functools


@functools.lru_cache(maxsize=1 << 16)
def _make_concept(surface: str, origin: str) -> Concept:
    # memoized: surface distributions are Zipfian, so the normalize +
    # sha256 work is dominated by a small hot set
    lemma = normalize_lemma(surface)
    return Concept(concept_id(lemma), lemma, surface, origin)


def extract_concepts(text: str) -> list[Concept]:
    """T1 heuristic extraction (ConceptExtractor.scala:66-101).

    Four regex strategies in order; first-seen dedup over the FULL
    concept identity (id, lemma, surface, origin) — LinkedHashSet
    semantics.  Surface length gates count UTF-16 code units exactly
    like ``String.length``; :func:`utf16_len` reproduces that.
    """
    seen: dict[Concept, None] = {}
    for surface in CAPITALIZED_WORD.findall(text):
        if surface not in STOP_WORDS and utf16_len(surface) > 2:
            seen.setdefault(_make_concept(surface, "NER"))
    for surface in CAMEL_CASE.findall(text):
        seen.setdefault(_make_concept(surface, "camelCase"))
    for surface in ACRONYM.findall(text):
        if 2 <= utf16_len(surface) <= 6:
            seen.setdefault(_make_concept(surface, "acronym"))
    for surface in TECHNICAL_TERM.findall(text):
        seen.setdefault(_make_concept(surface, "technicalTerm"))
    return list(seen)


# ---------------------------------------------------------------------------
# T4 — NLP concept extraction (ConceptExtractor.scala:157-256)
# ---------------------------------------------------------------------------
#
# The reference's `extractWithNLP` runs Stanford CoreNLP
# (tokenize,ssplit,pos,lemma,ner — ConceptExtractor.scala:30-44) and
# then applies 100 LoC of its own semantics on the token stream:
#   * consecutive same-NER-tag tokens merge into one multi-word entity
#     surface, origin "NER_<TYPE>" (ConceptExtractor.scala:176-235)
#   * entity surfaces gated by len>2 and the StopWords set
#   * O-tagged tokens with a noun POS tag (NN/NNP/NNS/NNPS), len>2,
#     not a stopword, not all-digits -> origin "POS_<tag>"
#     (ConceptExtractor.scala:216-222)
#   * union with the heuristic pass: camelCase/acronym concepts added
#     only when their LEMMA is not already present
#     (ConceptExtractor.scala:240-248)
#   * any exception -> full fallback to extractHeuristic
#     (ConceptExtractor.scala:251-255)
#
# CoreNLP's statistical models are not available (and not deterministic
# across versions), so the TAGGER here is a deterministic stand-in —
# lexicon + shape rules, pinned below and replicated verbatim in the
# DuckDB oracle SQL — while the surrounding merge/gate/union/fallback
# semantics mirror the reference exactly.  The tagger is a seam: swap
# `_token_tags` for real model output and everything downstream holds.

NOUN_TAGS = frozenset({"NN", "NNP", "NNS", "NNPS"})  # ConceptExtractor.scala:63

# deterministic NER lexicons (capitalized forms; tag applies to the
# stripped token only when it keeps its original capitalization)
NER_LOCATION = frozenset(
    "New York London Paris Berlin Tokyo Seattle California Washington "
    "America Europe Africa Asia Australia India China France Germany "
    "England Canada Mexico Brazil Valley States Kingdom United San "
    "Francisco Los Angeles".split()
)
NER_PERSON = frozenset(
    "Alice Carol Smith Johnson Turing Knuth Lovelace Hopper Dijkstra "
    "Shannon Neumann Curie Darwin Einstein Newton".split()
)
NER_ORGANIZATION = frozenset(
    "Apache Google Microsoft Amazon Netflix Foundation University "
    "Institute Laboratories Corporation Inc Corp Ltd NASA MIT".split()
)

# noun-ish suffixes for lowercase common nouns (deterministic NN gate)
NOUN_SUFFIXES = (
    "tion", "sion", "ment", "ness", "ity", "ance", "ence", "ship",
    "ism", "age", "graph", "data", "base", "ware", "gine", "work",
    "tor", "ter", "ser", "ler", "ner",
)

_STRIP_EDGE = re.compile(r"^[^A-Za-z0-9]+|[^A-Za-z0-9]+$", re.ASCII)
_ALNUM_END = re.compile(r"[A-Za-z0-9]$", re.ASCII)
_CAP_WORD = re.compile(r"^[A-Z][a-z]+$", re.ASCII)
_LOWER_WORD = re.compile(r"^[a-z]+$", re.ASCII)
_ALL_DIGITS = re.compile(r"^[0-9]+$", re.ASCII)


def _token_tags(raw_token: str) -> tuple[str, str, str, bool]:
    """(word, ner_tag, pos_tag, breaks_after) for one whitespace token.

    * word = token with non-alphanumeric edges stripped (the CoreNLP
      tokenizer would have split that punctuation off)
    * ner from the lexicons; "O" otherwise
    * pos: NNP for Capitalized, NNS for lowercase plural, NN for
      lowercase with a noun suffix, "" otherwise (only consulted for
      O-tagged tokens, like the reference)
    * breaks_after: trailing punctuation on the RAW token ends any
      in-flight multi-word entity (CoreNLP would emit the punctuation
      as its own O token, breaking the chain)
    """
    word = _STRIP_EDGE.sub("", raw_token)
    # ASCII-pinned (like every other gate here): a trailing non-ASCII
    # letter breaks the chain too, matching the RE2 oracle exactly
    breaks_after = not _ALNUM_END.search(raw_token)
    if not word:
        return ("", "O", "", True)
    if word in NER_LOCATION:
        ner = "LOCATION"
    elif word in NER_PERSON:
        ner = "PERSON"
    elif word in NER_ORGANIZATION:
        ner = "ORGANIZATION"
    else:
        ner = "O"
    if _CAP_WORD.match(word):
        pos = "NNP"
    elif _LOWER_WORD.match(word):
        if word.endswith("s") and len(word) > 3:
            pos = "NNS"
        elif word.endswith(NOUN_SUFFIXES):
            pos = "NN"
        else:
            pos = ""
    else:
        pos = ""
    return (word, ner, pos, breaks_after)


def extract_concepts_nlp(text: str) -> list[Concept]:
    """T4 (ConceptExtractor.scala:157-256): NER entity merging + POS
    noun harvest + camelCase/acronym union, heuristic fallback on
    error.  LinkedHashSet dedup over full concept identity."""
    try:
        seen: dict[Concept, None] = {}

        def flush(entity_words: list[str], entity_type: str | None):
            if not entity_words or entity_type is None:
                return
            surface = " ".join(entity_words)
            if utf16_len(surface) > 2 and surface not in STOP_WORDS:
                seen.setdefault(_make_concept(surface, f"NER_{entity_type}"))

        cur_words: list[str] = []
        cur_type: str | None = None
        for raw in text.split():
            word, ner, pos, breaks_after = _token_tags(raw)
            if ner != "O":
                if cur_type == ner:
                    cur_words.append(word)
                else:
                    flush(cur_words, cur_type)
                    cur_words, cur_type = [word], ner
            else:
                flush(cur_words, cur_type)
                cur_words, cur_type = [], None
                if (
                    pos in NOUN_TAGS
                    and utf16_len(word) > 2
                    and word not in STOP_WORDS
                    and not _ALL_DIGITS.match(word.lower())
                ):
                    seen.setdefault(_make_concept(word, f"POS_{pos}"))
            if breaks_after:
                flush(cur_words, cur_type)
                cur_words, cur_type = [], None
        flush(cur_words, cur_type)

        # union with heuristics: camelCase/acronym only, lemma-novel
        # (ConceptExtractor.scala:240-248)
        lemmas = {c.lemma for c in seen}
        for c in extract_concepts(text):
            if c.origin in ("camelCase", "acronym") and c.lemma not in lemmas:
                seen.setdefault(c)
        return list(seen)
    except Exception:
        return extract_concepts(text)  # ConceptExtractor.scala:251-255


# ---------------------------------------------------------------------------
# UTF-16 helpers (JVM String semantics)
# ---------------------------------------------------------------------------

def utf16_len(s: str) -> int:
    """JVM ``String.length`` — UTF-16 code units."""
    return len(s.encode("utf-16-le")) // 2


def utf16_take(s: str, n: int) -> str:
    """JVM ``String.take(n)`` — first n UTF-16 code units.

    Deviation (documented): when the boundary would split a surrogate
    pair the JVM keeps a lone high surrogate; lone surrogates are not
    representable in Arrow/UTF-8, so we round DOWN to the pair
    boundary.  Fixtures pin this choice (tests/test_purecore.py).

    Hot-path shape: only the first n PYTHON chars are ever encoded —
    n chars encode to >= 2n bytes, with equality iff all-BMP, so the
    prefix suffices to decide and this never scans the tail of a long
    document (measured in the extraction UDF profile).
    """
    p = s[:n]
    b = p.encode("utf-16-le")
    if len(b) <= 2 * n:  # == 2n: n BMP chars; < 2n: s shorter than n
        return p
    cut = b[: 2 * n]
    last = int.from_bytes(cut[-2:], "little")
    if 0xD800 <= last <= 0xDBFF:  # high surrogate — don't split the pair
        cut = cut[:-2]
    return cut.decode("utf-16-le")


# ---------------------------------------------------------------------------
# R1 — co-occurrence pairs
# ---------------------------------------------------------------------------

def cooccur_pairs(concepts: list[Concept], chunk_id: str) -> list[tuple]:
    """CoOccurExtractor.scala:28-57 — all unordered pairs over the
    distinct concepts of one chunk, canonical order by concept_id,
    windowId = chunk_id, freq = 1.  Returns (a, b, window_id, freq).
    Empty when fewer than 2 mentions (GraphRagJob.scala:309)."""
    if len(concepts) < 2:
        return []
    distinct: dict[Concept, None] = {}
    for c in concepts:
        distinct.setdefault(c)
    cs = list(distinct)
    out = []
    for i in range(len(cs)):
        for j in range(i + 1, len(cs)):
            a, b = cs[i], cs[j]
            if a.concept_id >= b.concept_id:
                a, b = b, a
            out.append((a, b, chunk_id, 1))
    return out


def pmi(co_freq: int, a_freq: int, b_freq: int, total_chunks: int) -> float:
    """CoOccurExtractor.scala:69-89 — log2((f_ab/N)/((f_a/N)(f_b/N))),
    0.0 on any zero input."""
    import math

    if total_chunks == 0 or a_freq == 0 or b_freq == 0 or co_freq == 0:
        return 0.0
    p_ab = co_freq / total_chunks
    p_a = a_freq / total_chunks
    p_b = b_freq / total_chunks
    return math.log2(p_ab / (p_a * p_b))


# ---------------------------------------------------------------------------
# R6 — deterministic relation scorer
# ---------------------------------------------------------------------------

def score_candidate(a_lemma: str, b_lemma: str, evidence: str) -> tuple[str, float]:
    """Deterministic verdict rules.

    The reference's only deterministic path is the regex fallback
    (RelationScorer.scala:129-152): predicate ``related_to`` unless a
    rule matches, confidence 0.5.  We extend it with evidence-pattern
    rules (same shape as the fallback's regex probes, applied to the
    evidence text instead of an LLM response) so that a deterministic
    run still yields typed edges above the 0.65 threshold — mirroring
    the reference corpus' IS_A/SYNONYM_OF/RELATED_TO distribution
    (API_DOCUMENTATION.md:47-49).  Rule order is significant and is
    mirrored verbatim in the DuckDB oracle SQL.
    """
    if a_lemma == b_lemma:
        return ("synonym_of", 0.9)
    ev = evidence.lower()
    if " is a " in ev or " is an " in ev:
        return ("is_a", 0.9)
    if " part of " in ev:
        return ("part_of", 0.85)
    if " causes " in ev or " caused by " in ev:
        return ("causes", 0.8)
    return ("related_to", 0.5)


def score_triples_for_text(text: str, chunk_id: str) -> list[dict]:
    """Full per-chunk golden path: extract -> pairs -> score -> threshold.

    Returns the triples the distributed pipeline must emit for this
    chunk (the P/R harness gates at >=0.95 vs this)."""
    concepts = extract_concepts(text)
    evidence = utf16_take(text, EVIDENCE_LIMIT)
    out = []
    for a, b, window_id, _freq in cooccur_pairs(concepts, chunk_id):
        predicate, confidence = score_candidate(a.lemma, b.lemma, evidence)
        if confidence >= MIN_CONFIDENCE:
            out.append(
                {
                    "subj_id": a.concept_id,
                    "predicate": predicate,
                    "obj_id": b.concept_id,
                    "confidence": confidence,
                    "evidence": utf16_take(evidence, FALLBACK_EVIDENCE_LIMIT),
                    "chunk_id": chunk_id,
                }
            )
    return out


def sanitize_rel(predicate: str) -> str:
    """Neo4jSink.scala:197 — uppercase, [^A-Z0-9_] -> _."""
    return re.sub(r"[^A-Z0-9_]", "_", predicate.upper())


# ---------------------------------------------------------------------------
# T5 — HTML <-> text (our added stage; byte-identical contract)
# ---------------------------------------------------------------------------

_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.DOTALL)


def render_html(text: str) -> bytes:
    """Fixed template renderer (datagen): text -> html, the exact
    inverse of :func:`extract_text`.  Paragraphs are text split on
    blank lines; entities &, <, > are escaped."""
    paragraphs = text.split("\n\n") if text else []
    title = _htmlmod.escape(paragraphs[0][:80], quote=False) if paragraphs else ""
    body = "".join(f"<p>{_htmlmod.escape(p, quote=False)}</p>" for p in paragraphs)
    return (
        f"<html><head><title>{title}</title></head><body>{body}</body></html>"
    ).encode("utf-8")


def extract_text(html_bytes: bytes) -> str:
    """Deterministic HTML->text: decode UTF-8, pull <p> paragraph
    contents, unescape entities, join with blank lines.  Byte-identical
    per url to the text the page was rendered from (north_rule gate:
    sha256(text) fixture check)."""
    doc = html_bytes.decode("utf-8", errors="replace")
    # html.unescape regex-scans unconditionally — skip it when no
    # entity can exist (the common case; byte-identity tests pin both
    # branches)
    paras = [
        _htmlmod.unescape(m) if "&" in m else m for m in _P_RE.findall(doc)
    ]
    return "\n\n".join(paras)


def chunk_id_for(url: str, text: str) -> str:
    """Stable chunk id: hex(sha256(url \\x1f text))[:16] — mirrors the
    reference's content-hash chunk ids (DeltaToJsonl.scala:201-203
    upstream `chunkContentHash`) and is exactly expressible in Spark
    SQL as substring(sha2(concat(url, X'1F', text), 256), 1, 16)."""
    return hashlib.sha256(f"{url}\x1f{text}".encode("utf-8")).hexdigest()[:16]
