"""Seeded Zipf-vocabulary corpus and delta-batch generator.

The vocabulary is thousands of synthetic names in the three surface
shapes the heuristic extractor recognises (``purecore.CAPITALIZED_WORD``,
``CAMEL_CASE`` and ``ACRONYM``).  Pages draw names Zipf-skewed, so a
small head of concepts repeats across pages (hot keys for the serving
workload, long adjacency lists for the graph operators) while the tail
keeps adding new concepts as the corpus grows: the concept graph grows
with the page count instead of saturating at a fixed size.

Delta batches mix three kinds of page so that every branch of the
incremental gate carries load:

* ``new``     - new urls, newer ``warc_ts``, new text: admitted and extracted;
* ``recrawl`` - an earlier page's url and text again with a newer
  ``warc_ts``: passes the high-water mark, dropped by the chunk anti-join;
* ``stale``   - new url and text with a ``warc_ts`` below the high-water
  mark: dropped by the checkpoint filter.

Everything is a pure function of the seed; no wall clock is read.
"""

from __future__ import annotations

import bisect
import itertools
import random
from datetime import datetime, timedelta, timezone

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
# Zipf's law for word frequencies: frequency ~ 1 / rank ** s with s near 1
ZIPF_S = 1.0
# Assumptions, not measurements (perfbench/README.md, "Corpus", gives the
# reason for each): names in the vocabulary, share of pages carrying the
# typed rule templates, and the shares of a delta batch that re-crawl an
# earlier page or carry a stale timestamp (the rest are new pages).
VOCAB_SIZE = 4000
TYPED_SHARE = 0.6
RECRAWL_SHARE = 0.1
STALE_SHARE = 0.1

# never emitted as synthetic words: the extractor drops them, and a
# generated name that collides with one would silently vanish
_STOP = {
    "The", "This", "That", "These", "Those", "They", "There", "Then",
    "When", "Where", "What", "Which", "Who", "Why", "How", "Figure",
    "Table", "Section", "Chapter", "Page", "For", "From", "With",
    "Without", "About",
}
_ONSETS = "b c d f g h j k l m n p r s t v z br cr dr fr gr kl pl pr st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "n", "r", "s", "l", "x", "th"]

TEMPLATES = (
    "{a} is a {b}.",            # scorer rule is_a, 0.9
    "{a} is part of {b}.",      # part_of, 0.85
    "{a} causes {b}.",          # causes, 0.8
    "{a} works with {b}.",      # related_to, 0.5: below the threshold
    "{a} and {b} appear in {c}.",
)
FILLER = (
    "records move through the system with low latency",
    "results are written to storage for later use",
    "operators exchange partitions over the network",
    "every snapshot is tracked in the metadata",
)


def _word(rng: random.Random) -> str:
    n = rng.choice((1, 2, 2, 3))
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
    return (w + rng.choice(_CODAS)).capitalize()


def make_vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct surfaces in Zipf-rank order: 60% capitalized
    one- or two-word names, 25% CamelCase, 15% 2-6 letter acronyms."""
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
        normalize_lemma,
    )

    rng = random.Random(seed * 7919 + 1)
    seen: set[str] = set()
    lemmas: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        r = rng.random()
        if r < 0.60:
            words = [_word(rng) for _ in range(rng.choice((1, 2, 2)))]
            surface = " ".join(words)
            if len(surface) <= 2 or any(w in _STOP for w in words):
                continue
        elif r < 0.85:
            surface = _word(rng) + _word(rng)
        else:
            surface = "".join(
                chr(65 + rng.randrange(26)) for _ in range(rng.randint(2, 6))
            )
        # one surface per lemma, so a concept id maps back to one name
        lemma = normalize_lemma(surface)
        if surface in seen or lemma in lemmas:
            continue
        seen.add(surface)
        lemmas.add(lemma)
        out.append(surface)
    return out


class ZipfSampler:
    def __init__(self, items: list[str], s: float = ZIPF_S):
        self.items = items
        self.cum = list(itertools.accumulate(1.0 / (r**s) for r in range(1, len(items) + 1)))

    def draw(self, rng: random.Random) -> str:
        x = rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]

    def draw_distinct(self, rng: random.Random, k: int) -> list[str]:
        got: list[str] = []
        while len(got) < k:
            s = self.draw(rng)
            if s not in got:
                got.append(s)
        return got


def page_text(rng: random.Random, sampler: ZipfSampler) -> str:
    # the scorer types EVERY pair of a chunk from any rule phrase in its
    # evidence, so typed templates go to some pages only: the rest
    # yield candidate pairs that score below the threshold
    templates = TEMPLATES if rng.random() < TYPED_SHARE else TEMPLATES[3:]
    paras = []
    for _ in range(rng.randint(1, 3)):
        sents = []
        for _ in range(rng.randint(2, 4)):
            t = rng.choice(templates)
            a, b, c = sampler.draw_distinct(rng, 3)
            sents.append(t.format(a=a, b=b, c=c))
            if rng.random() < 0.25:
                sents.append(rng.choice(FILLER) + ".")
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _row(url: str, ts: datetime, text: str, kind: str) -> dict:
    from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions import purecore

    return {
        "url": url,
        "warc_ts": ts,
        "html": purecore.render_html(text),
        "text": text,
        "lang": "en",
        "kind": kind,
    }


class Corpus:
    """The base pages and the delta batches, every page a function of the
    seed alone.  Batches are generated on first use and always in order
    (:meth:`delta`), so a run that ingests more batches draws more pages
    without changing the ones before."""

    def __init__(self, seed: int, base_pages: int, delta_pages: int = 0,
                 recrawl_share: float = RECRAWL_SHARE, stale_share: float = STALE_SHARE):
        self.seed = seed
        self.vocabulary = make_vocabulary(seed)
        self.sampler = ZipfSampler(self.vocabulary)
        self.rng = random.Random(seed)
        self.delta_pages = delta_pages
        self.n_recrawl = int(delta_pages * recrawl_share)
        self.n_stale = int(delta_pages * stale_share)
        self.base = [
            _row(f"https://site{i % 53}.example/{seed}/b/{i}", BASE_TS + timedelta(seconds=i),
                 page_text(self.rng, self.sampler), "base")
            for i in range(base_pages)
        ]
        self.deltas: list[list[dict]] = []
        self._seen = list(self.base)

    def delta(self, i: int) -> list[dict]:
        while len(self.deltas) <= i:
            self.deltas.append(self._make_delta(len(self.deltas)))
        return self.deltas[i]

    def _make_delta(self, b: int) -> list[dict]:
        rng, n = self.rng, self.delta_pages
        t0 = BASE_TS + timedelta(days=b + 1)
        batch = [
            _row(f"https://site{i % 53}.example/{self.seed}/d{b}/{i}", t0 + timedelta(seconds=i),
                 page_text(rng, self.sampler), "new")
            for i in range(n - self.n_recrawl - self.n_stale)
        ]
        for i, old in enumerate(rng.sample(self._seen, self.n_recrawl)):
            batch.append(_row(old["url"], t0 + timedelta(seconds=n + i), old["text"], "recrawl"))
        for i in range(self.n_stale):
            batch.append(
                _row(f"https://stale.example/{self.seed}/d{b}/{i}", BASE_TS + timedelta(seconds=i),
                     page_text(rng, self.sampler), "stale")
            )
        self._seen.extend(p for p in batch if p["kind"] == "new")
        return batch

    def content(self, n_deltas: int | None = None) -> list[dict]:
        """The pages whose content the graph holds after the base and the
        first ``n_deltas`` generated deltas (all by default): the base and
        each delta's new pages.  A re-crawl repeats an earlier page's url
        and text, and a stale page is dropped by the high-water mark."""
        return self.base + [p for d in self.deltas[:n_deltas] for p in d if p["kind"] == "new"]


def write_pages(rows: list[dict], path: str) -> str:
    """The pages parquet the program reads: ``url, warc_ts, html, text,
    lang`` (the generator's ``kind`` label stays on the benchmark side)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pylist([{k: r[k] for k in schema.names} for r in rows], schema)
    pq.write_table(table, path)
    return path
