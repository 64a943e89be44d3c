"""Per-source statistics: shared-concept overlap and smoothed KL."""

import math

from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import curation


class TestSourceOverlap:
    @staticmethod
    def _py(mentions, sources, max_spread, min_shared):
        from collections import defaultdict
        from itertools import combinations

        sc = defaultdict(set)
        src = dict(sources)
        for cid, concept in mentions:
            sc[src[cid]].add(concept)
        if max_spread is not None:
            spread = defaultdict(int)
            for s, cs in sc.items():
                for c in cs:
                    spread[c] += 1
            sc = {s: {c for c in cs if spread[c] <= max_spread} for s, cs in sc.items()}
        out = []
        for a, b in combinations(sorted(sc), 2):
            shared = len(sc[a] & sc[b])
            if shared >= min_shared:
                na, nb = len(sc[a]), len(sc[b])
                out.append(
                    (a, b, shared, na, nb, round(shared / (na + nb - shared), 6))
                )
        out.sort(key=lambda r: (-r[2], r[0], r[1]))
        return out

    def _run(self, spark, mentions, sources, max_spread=None, min_shared=2):
        m = spark.createDataFrame(mentions, "chunk_id string, concept_id string")
        d = spark.createDataFrame(sources, "chunk_id string, source string")
        got = [
            tuple(r)
            for r in curation.source_overlap(
                m, d, max_spread=max_spread, min_shared=min_shared
            ).collect()
        ]
        assert got == self._py(mentions, sources, max_spread, min_shared)
        return got

    def test_mirror_pair_ranks_first(self, spark):
        sources = [("d1", "mirrorA"), ("d2", "mirrorB"), ("d3", "other")]
        mentions = (
            [("d1", c) for c in ("c1", "c2", "c3", "c4")]
            + [("d2", c) for c in ("c1", "c2", "c3", "c4")]
            + [("d3", "c1"), ("d3", "x1")]
        )
        got = self._run(spark, mentions, sources)
        assert got[0][:3] == ("mirrorA", "mirrorB", 4)
        assert got[0][5] == 1.0  # identical concept sets

    def test_viral_concept_guard(self, spark):
        # c_viral lives in all 3 sources; with max_spread=2 it stops
        # counting as mirror evidence AND leaves the totals
        sources = [("d1", "s1"), ("d2", "s2"), ("d3", "s3")]
        mentions = [
            ("d1", "c_viral"), ("d2", "c_viral"), ("d3", "c_viral"),
            ("d1", "c_pair"), ("d2", "c_pair"),
            ("d1", "c_solo"),
        ]
        unguarded = self._run(spark, mentions, sources, min_shared=1)
        assert ("s1", "s2", 2, 3, 2, 0.666667) in unguarded
        guarded = self._run(spark, mentions, sources, max_spread=2, min_shared=1)
        assert guarded == [("s1", "s2", 1, 2, 1, 0.5)]

    def test_duplicate_mentions_count_once(self, spark):
        sources = [("d1", "sA"), ("d2", "sA"), ("d3", "sB")]
        mentions = [("d1", "c1"), ("d2", "c1"), ("d3", "c1"), ("d1", "c2"), ("d3", "c2")]
        got = self._run(spark, mentions, sources, min_shared=1)
        # sA's two c1 docs collapse to one distinct concept
        assert got == [("sA", "sB", 2, 2, 2, 1.0)]


class TestSourceDrift:
    def _py_kl(self, docs, top_v):
        """Full-grid smoothed-KL reference (no closed form): the
        textbook sum over EVERY coarsened term for every source."""
        import math
        import re
        from collections import Counter

        st = Counter()
        for src, text in docs:
            for t in re.split(r"[^a-z0-9]+", text.lower()):
                if t:
                    st[(src, t)] += 1
        ct = Counter()
        for (s, t), c in st.items():
            ct[t] += c
        top = {t for t, _ in sorted(ct.items(), key=lambda kv: (-kv[1], kv[0]))[:top_v]}
        b = Counter()
        for (s, t), c in st.items():
            b[(s, t if t in top else "<other>")] += c
        ctb = Counter()
        for (s, t), c in b.items():
            ctb[t] += c
        v1, n = len(ctb), sum(ctb.values())
        out = {}
        for s in {s for s, _ in b}:
            ns = sum(c for (s2, _), c in b.items() if s2 == s)
            kl = 0.0
            for t, ctv in ctb.items():
                q = (ctv + 1) / (n + v1)
                p = (b.get((s, t), 0) + 1) / (ns + v1)
                kl += p * math.log(p / q)
            out[s] = (ns, sum(1 for (s2, _) in b if s2 == s), kl)
        return out

    def _run(self, spark, docs, top_v):
        df = spark.createDataFrame(docs, "source string, text string")
        st = (
            df.select(
                "source",
                F.explode(
                    F.filter(
                        F.split(F.lower("text"), r"[^a-z0-9]+"),
                        lambda t: F.length(t) > 0,
                    )
                ).alias("term"),
            )
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return {
            r["source"]: (r["n_tokens"], r["n_terms_seen"], r["kl_corpus"])
            for r in curation.kl_divergence_from_counts(st, top_v=top_v).collect()
        }

    def test_closed_form_matches_full_grid(self, spark):
        docs = [
            ("a", "the cat sat on the mat and the cat slept"),
            ("a", "a dog and a cat met on a mat"),
            ("b", "the cat sat on the mat and the cat slept"),
            ("spam", "viagra casino viagra bonus casino jackpot viagra"),
        ]
        got = self._run(spark, docs, top_v=5)  # force a real <other> bucket
        want = self._py_kl(docs, top_v=5)
        assert set(got) == set(want)
        for s in want:
            assert got[s][0] == want[s][0]
            assert got[s][1] == want[s][1]
            assert abs(got[s][2] - want[s][2]) < 1e-6, s

    def test_drifted_source_ranks_highest(self, spark):
        base = "the quick brown fox jumps over the lazy dog near the river bank"
        docs = [("a", base), ("b", base), ("junk", "zzz qqq xxx zzz qqq vvv www")]
        got = self._run(spark, docs, top_v=100)
        assert got["junk"][2] > got["a"][2]
        assert abs(got["a"][2] - got["b"][2]) < 1e-9  # identical dists
        assert all(v[2] >= 0 for v in got.values())   # KL non-negativity
