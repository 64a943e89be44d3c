"""Multi-hop neighborhood and PageRank: exact numpy oracle."""

import numpy as np
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries


def _und_df(spark, edges):
    sym = edges + [(b, a) for a, b in edges]
    return spark.createDataFrame(sym, "cid string, nbr_id string")


def _np_pagerank(edges, damping=0.85, iters=10):
    sym = set(edges) | {(b, a) for a, b in edges}
    nodes = sorted({a for a, _ in sym})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, _ in sym:
        deg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.zeros(n)
        for a, b in sym:
            inflow[idx[b]] += r[idx[a]] / deg[idx[a]]
        r = (1 - damping) / n + damping * inflow
    return {v: r[idx[v]] for v in nodes}


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
    ("d", "e"), ("e", "f"), ("f", "g"), ("c", "g"),
]


class TestPagerank:
    def test_matches_numpy_oracle(self, spark):
        got = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(_und_df(spark, EDGES), iters=10, top_k=100).collect()
        }
        want = _np_pagerank(EDGES, iters=10)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - round(want[v], 8)) < 1e-8, v

    def test_ranks_sum_to_one(self, spark):
        got = queries.pagerank_und(_und_df(spark, EDGES), iters=10, top_k=100).agg(
            F.sum("rank")
        ).collect()[0][0]
        assert abs(got - 1.0) < 1e-6

    def test_hub_outranks_leaf(self, spark):
        ranks = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(_und_df(spark, EDGES), top_k=100).collect()
        }
        assert ranks["c"] > ranks["e"]  # degree-4 hub beats degree-2 chain node


def _np_ppr(edges, seeds, damping=0.85, iters=10):
    sym = set(edges) | {(b, a) for a, b in edges}
    nodes = sorted({a for a, _ in sym})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, _ in sym:
        deg[idx[a]] += 1
    present = sorted(s for s in seeds if s in idx)
    tp = np.zeros(n)
    for s in present:
        tp[idx[s]] = 1.0 / len(present)
    r = tp.copy()
    for _ in range(iters):
        inflow = np.zeros(n)
        for a, b in sym:
            inflow[idx[b]] += r[idx[a]] / deg[idx[a]]
        r = (1 - damping) * tp + damping * inflow
    return {v: r[idx[v]] for v in nodes}


class TestPersonalizedPagerank:
    def test_matches_numpy_oracle(self, spark):
        got = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                _und_df(spark, EDGES), seeds=["a", "g"], iters=10, top_k=100
            ).collect()
        }
        want = {k: v for k, v in _np_ppr(EDGES, ["a", "g"]).items() if v > 0}
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - round(want[v], 8)) < 1e-8, v

    def test_rank_decays_with_distance_from_seed(self, spark):
        # chain a-b-c-d-e, seed at a: rank must be monotone decreasing
        chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        got = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                _und_df(spark, chain), seeds=["a"], top_k=100
            ).collect()
        }
        assert got["a"] > got["b"] > got["c"] > got["d"] > got["e"]

    def test_absent_seed_ignored_and_all_absent_empty(self, spark):
        und = _und_df(spark, EDGES)
        only_a = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                und, seeds=["a", "zzz"], top_k=100
            ).collect()
        }
        want = _np_ppr(EDGES, ["a"])
        for v, rank in only_a.items():
            assert abs(rank - round(want[v], 8)) < 1e-8, v
        assert queries.personalized_pagerank(und, seeds=["zzz"]).count() == 0

    def test_mass_conserved(self, spark):
        total = (
            queries.personalized_pagerank(
                _und_df(spark, EDGES), seeds=["c"], top_k=100
            )
            .agg(F.sum("rank"))
            .collect()[0][0]
        )
        assert abs(total - 1.0) < 1e-6


class TestTwoHop:
    def test_rings(self, spark):
        nodes = spark.createDataFrame(
            [(v, "Concept", v, v, "NER") for v in "abcdefg"],
            "id string, label string, lemma string, surface string, origin string",
        )
        edges = spark.createDataFrame(
            [(a, b, "Concept", "Concept", "RELATED_TO", 0.9, "") for a, b in EDGES],
            "src_id string, dst_id string, src_label string, dst_label string, rel string, confidence double, evidence string",
        )
        out = {
            (r["nbr_id"], r["min_hops"])
            for r in queries.concept_neighbors_2hop(nodes, edges, "a").collect()
        }
        assert out == {("b", 1), ("c", 1), ("d", 2), ("g", 2)}


class TestBfs:
    def test_distances_on_chain_graph(self, spark):
        got = {
            (r["id"], r["dist"])
            for r in queries.bfs_distances(_und_df(spark, EDGES), "a", max_hops=6).collect()
        }
        # a-b-c 1 hop; d,g via c = 2; e via d = 3; f via e or g = 3
        assert got == {
            ("a", 0), ("b", 1), ("c", 1), ("d", 2), ("g", 2), ("e", 3), ("f", 3)
        }

    def test_max_hops_truncates(self, spark):
        got = {r["id"] for r in queries.bfs_distances(_und_df(spark, EDGES), "a", max_hops=1).collect()}
        assert got == {"a", "b", "c"}

    def test_early_exit_on_component_boundary(self, spark):
        edges = EDGES + [("x", "y")]  # disconnected pair
        got = {r["id"] for r in queries.bfs_distances(_und_df(spark, edges), "x", max_hops=6).collect()}
        assert got == {"x", "y"}


class TestWeightedPagerank:
    def test_matches_numpy_weighted_oracle(self, spark):
        w_edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0), ("c", "d", 5.0)]
        sym = w_edges + [(b, a, w) for a, b, w in w_edges]
        df = spark.createDataFrame(sym, "cid string, nbr_id string, w double")
        got = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(df, iters=10, top_k=100, weight_col="w").collect()
        }

        nodes = sorted({a for a, _, _ in sym})
        idx = {v: i for i, v in enumerate(nodes)}
        import numpy as np

        strength = np.zeros(len(nodes))
        for a, _, w in sym:
            strength[idx[a]] += w
        r = np.full(len(nodes), 1.0 / len(nodes))
        for _ in range(10):
            inflow = np.zeros(len(nodes))
            for a, b, w in sym:
                inflow[idx[b]] += r[idx[a]] * w / strength[idx[a]]
            r = 0.15 / len(nodes) + 0.85 * inflow
        for v in nodes:
            assert abs(got[v] - round(r[idx[v]], 8)) < 1e-8, v
        # weights matter: the ranking differs from the unweighted run
        unw = {
            r2["id"]: r2["rank"]
            for r2 in queries.pagerank_und(
                df.drop("w"), iters=10, top_k=100
            ).collect()
        }
        assert got != unw

    def test_uniform_weights_equal_unweighted(self, spark):
        df = _und_df(spark, EDGES).withColumn("w", F.lit(1.0))
        a = {r["id"]: r["rank"] for r in queries.pagerank_und(df, top_k=100, weight_col="w").collect()}
        b = {r["id"]: r["rank"] for r in queries.pagerank_und(_und_df(spark, EDGES), top_k=100).collect()}
        assert a == b


class TestTriangles:
    # kite + tail: triangles (a,b,c) and (b,c,d); e dangles off d
    EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e")]

    def _py(self):
        import itertools

        sym = set(self.EDGES) | {(b, a) for a, b in self.EDGES}
        adj: dict[str, set] = {}
        for x, y in sym:
            adj.setdefault(x, set()).add(y)
        tri = {v: 0 for v in adj}
        for u, v, w in itertools.combinations(sorted(adj), 3):
            if v in adj[u] and w in adj[u] and w in adj[v]:
                tri[u] += 1
                tri[v] += 1
                tri[w] += 1
        return {
            v: (
                len(adj[v]),
                tri[v],
                round(2.0 * tri[v] / (len(adj[v]) * (len(adj[v]) - 1)), 6)
                if len(adj[v]) >= 2
                else 0.0,
            )
            for v in adj
        }

    def test_matches_python_oracle(self, spark):
        got = {
            r["id"]: (r["degree"], r["triangles"], r["clustering"])
            for r in queries.triangle_counts(
                _und_df(spark, self.EDGES), top_k=100
            ).collect()
        }
        assert got == self._py()

    def test_triangle_free_graph(self, spark):
        star = [("hub", x) for x in ("p", "q", "r", "s")]
        rows = queries.triangle_counts(_und_df(spark, star)).collect()
        assert all(r["triangles"] == 0 and r["clustering"] == 0.0 for r in rows)


class TestRelatedConcepts:
    def test_distance2_jaccard(self, spark):
        # p and q share neighbors m1, m2 but are not adjacent;
        # p also touches x (degree 3), q only the middles (degree 2)
        edges = [("p", "m1"), ("p", "m2"), ("q", "m1"), ("q", "m2"), ("p", "x")]
        rows = queries.related_concepts(
            _und_df(spark, edges), top_k=10, min_common=2
        ).collect()
        assert [(r["a"], r["b"], r["common"], r["jaccard"]) for r in rows] == [
            ("m1", "m2", 2, 1.0),           # m1,m2 share p,q; deg 2 each
            ("p", "q", 2, round(2 / 3, 6)),  # share m1,m2; deg 3 + 2 - 2
        ]

    def test_adjacent_pairs_excluded(self, spark):
        # triangle: every pair is adjacent -> no candidates survive
        rows = queries.related_concepts(
            _und_df(spark, [("a", "b"), ("a", "c"), ("b", "c")]),
            min_common=1,
        ).collect()
        assert rows == []

    def test_max_degree_caps_middle(self, spark):
        # hub h connects 4 leaves: C(4,2)=6 candidate pairs through h;
        # capping the middle degree below 4 drops them all
        edges = [("h", x) for x in ("l1", "l2", "l3", "l4")]
        full = queries.related_concepts(
            _und_df(spark, edges), min_common=1
        ).collect()
        assert len(full) == 6
        capped = queries.related_concepts(
            _und_df(spark, edges), min_common=1, max_degree=3
        ).collect()
        assert capped == []


def _py_lpa(edges, iters=5):
    """Pure-Python mirror of queries.label_propagation: synchronous
    rounds, majority neighbor label, ties -> min label."""
    sym = set(edges) | {(b, a) for a, b in edges}
    adj: dict[str, list[str]] = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    labels = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            counts: dict[str, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


class TestLabelPropagation:
    def test_anti_oscillation_fixed_point_on_bipartite(self, spark):
        """Sync LPA oscillates on bipartite structures (a 2-node
        component flips a<->b every round; a 4-cycle flips sides).
        anti_oscillation=True (hash-parity half-sweeps) must reach a
        FIXED POINT: the labeling after `iters` rounds equals the
        labeling after `iters+1`, and each component collapses to one
        label.  The default stays oscillating by defined semantics."""
        bip = [("p", "q"), ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w")]
        at_k = {
            r["id"]: r["label"]
            for r in queries.label_propagation(
                _und_df(spark, bip), iters=4, anti_oscillation=True
            ).collect()
        }
        at_k1 = {
            r["id"]: r["label"]
            for r in queries.label_propagation(
                _und_df(spark, bip), iters=5, anti_oscillation=True
            ).collect()
        }
        assert at_k == at_k1, "not a fixed point"
        assert at_k["p"] == at_k["q"], "2-node component not collapsed"
        assert len({at_k[v] for v in "wxyz"}) == 1, "4-cycle not collapsed"
        # the default (synchronous) DOES flip the 2-node pair between
        # consecutive round counts — the documented oscillation the
        # flag exists for
        sync4 = {
            r["id"]: r["label"]
            for r in queries.label_propagation(
                _und_df(spark, bip), iters=4
            ).collect()
        }
        sync5 = {
            r["id"]: r["label"]
            for r in queries.label_propagation(
                _und_df(spark, bip), iters=5
            ).collect()
        }
        assert sync4["p"] != sync5["p"]

    def test_anti_oscillation_keeps_triangle_communities(self, spark):
        """On non-pathological graphs the flag must still produce the
        right communities (two triangles stay two communities)."""
        labels = queries.label_propagation(
            _und_df(spark, self.TWO_TRIANGLES), iters=5, anti_oscillation=True
        )
        got = {r["id"]: r["label"] for r in labels.collect()}
        assert len({got[v] for v in "abc"}) == 1
        assert len({got[v] for v in "xyz"}) == 1
        assert got["a"] != got["x"]

    # two triangles joined by one bridge edge: LPA must keep them as
    # two communities (min-label CC would merge everything to one)
    TWO_TRIANGLES = [
        ("a", "b"), ("a", "c"), ("b", "c"),
        ("x", "y"), ("x", "z"), ("y", "z"),
        ("c", "x"),
    ]

    def test_matches_python_oracle(self, spark):
        got = {
            r["id"]: r["label"]
            for r in queries.label_propagation(
                _und_df(spark, self.TWO_TRIANGLES), iters=5
            ).collect()
        }
        assert got == _py_lpa(self.TWO_TRIANGLES, iters=5)

    def test_two_triangles_two_communities(self, spark):
        labels = queries.label_propagation(
            _und_df(spark, self.TWO_TRIANGLES), iters=5
        )
        comms = {
            frozenset(
                r["id"] for r in labels.where(F.col("label") == lab).collect()
            )
            for lab in {r["label"] for r in labels.collect()}
        }
        assert frozenset({"a", "b", "c"}) in comms
        assert frozenset({"x", "y", "z"}) in comms

    def test_deterministic_across_runs(self, spark):
        a = sorted(
            map(tuple, queries.label_propagation(
                _und_df(spark, EDGES), iters=5).collect())
        )
        b = sorted(
            map(tuple, queries.label_propagation(
                _und_df(spark, EDGES), iters=5).collect())
        )
        assert a == b

    def test_community_sizes(self, spark):
        labels = queries.label_propagation(
            _und_df(spark, self.TWO_TRIANGLES), iters=5
        )
        sizes = {
            r["community"]: r["n_members"]
            for r in queries.community_sizes(labels).collect()
        }
        want = _py_lpa(self.TWO_TRIANGLES, iters=5)
        from collections import Counter

        expect = {
            lab: n for lab, n in Counter(want.values()).items() if n >= 2
        }
        assert sizes == expect

    def test_community_report_ranks_by_mentions(self, spark):
        labels = queries.label_propagation(
            _und_df(spark, self.TWO_TRIANGLES), iters=5
        )
        mentions = spark.createDataFrame(
            [("ch1", "a", "alpha"), ("ch2", "a", "alpha"), ("ch1", "b", "beta"),
             ("ch1", "x", "xi"), ("ch2", "y", "ypsilon"), ("ch3", "y", "ypsilon")],
            "chunk_id string, concept_id string, lemma string",
        )
        rep = queries.community_report(
            labels, mentions, top_communities=10, top_concepts=2
        ).collect()
        by_comm: dict[str, list] = {}
        for r in rep:
            by_comm.setdefault(r["community"], []).append(r)
        for rows in by_comm.values():
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            mcounts = [r["n_mentions"] for r in rows]
            assert mcounts == sorted(mcounts, reverse=True)
        tri1 = _py_lpa(self.TWO_TRIANGLES, 5)["a"]
        assert [r["lemma"] for r in by_comm[tri1]] == ["alpha", "beta"]

    def test_hierarchy_matches_python_oracle(self, spark):
        # four triangles in a chain — level 0 finds 4 communities,
        # level 1 clusters the contracted 4-node path further
        edges = []
        tris = [("a", "b", "c"), ("d", "e", "f"), ("g", "h", "i"), ("j", "k", "l")]
        for t in tris:
            edges += [(t[0], t[1]), (t[0], t[2]), (t[1], t[2])]
        edges += [("c", "d"), ("f", "g"), ("i", "j")]
        got = {
            r["id"]: (r["label_l0"], r["label_l1"])
            for r in queries.community_hierarchy(
                _und_df(spark, edges), iters=5
            ).collect()
        }
        l0 = _py_lpa(edges, iters=5)
        # contracted weighted graph
        sym = set(edges) | {(b, a) for a, b in edges}
        w: dict[tuple[str, str], int] = {}
        for a, b in sym:
            if l0[a] != l0[b]:
                k = (l0[a], l0[b])
                w[k] = w.get(k, 0) + 1
        # weighted LPA over the contracted nodes that have cross edges
        nodes1 = {a for a, _ in w}
        lab = {v: v for v in nodes1}
        for _ in range(5):
            nxt = {}
            for v in nodes1:
                counts: dict[str, int] = {}
                for (a, b), wt in w.items():
                    if a == v:
                        counts[lab[b]] = counts.get(lab[b], 0) + wt
                nxt[v] = min(counts, key=lambda l: (-counts[l], l))
            lab = nxt
        expect = {
            n: (l0[n], lab.get(l0[n], l0[n])) for n in l0
        }
        assert got == expect
        # strict nesting: label_l1 constant within each label_l0 group
        by_l0: dict[str, set] = {}
        for _, (a, b) in got.items():
            by_l0.setdefault(a, set()).add(b)
        assert all(len(s) == 1 for s in by_l0.values())

    def test_global_search_matches_python_oracle(self, spark):
        labels = queries.label_propagation(
            _und_df(spark, self.TWO_TRIANGLES), iters=5
        )
        mentions = spark.createDataFrame(
            [("ch1", "a", "alpha"), ("ch2", "a", "alpha"), ("ch1", "b", "beta"),
             ("ch1", "x", "xi_alt"), ("ch2", "y", "ypsilon"), ("ch3", "y", "ypsilon"),
             ("ch3", "z", "zeta")],
            "chunk_id string, concept_id string, lemma string",
        )
        got = [
            tuple(r)
            for r in queries.global_search(
                labels, mentions, pattern="al", top_k=10
            ).collect()
        ]
        # pure-Python mirror: pattern "al" matches alpha(x2) and xi_alt(x1)
        lab = _py_lpa(self.TWO_TRIANGLES, 5)
        from collections import Counter

        sizes = Counter(lab.values())
        per_comm: dict[str, list[tuple[str, int]]] = {}
        for cid, lemma, n in [("a", "alpha", 2), ("x", "xi_alt", 1)]:
            per_comm.setdefault(lab[cid], []).append((lemma, n))
        expect = sorted(
            (
                (
                    comm,
                    sizes[comm],
                    sum(n for _, n in ms),
                    len(ms),
                    min(ms, key=lambda t: (-t[1], t[0]))[0],
                )
                for comm, ms in per_comm.items()
            ),
            key=lambda t: (-t[2], t[0]),
        )
        assert got == expect


class TestLocalSearch:
    """local_search = entity link (hash) -> PPR -> mention stats."""

    def _fixture(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import (
            concept_id,
            normalize_lemma,
        )

        lemmas = ["apache_spark", "merge_sort", "table_scan", "key_value"]
        cid = {l: concept_id(l) for l in lemmas}
        edges = [
            (cid["apache_spark"], cid["merge_sort"]),
            (cid["merge_sort"], cid["table_scan"]),
            (cid["table_scan"], cid["key_value"]),
        ]
        mention_rows = [
            ("ch1", cid["apache_spark"], "apache_spark"),
            ("ch2", cid["apache_spark"], "apache_spark"),
            ("ch1", cid["merge_sort"], "merge_sort"),
            ("ch3", cid["table_scan"], "table_scan"),
            ("ch3", cid["key_value"], "key_value"),
        ]
        mentions = spark.createDataFrame(
            mention_rows, "chunk_id string, concept_id string, lemma string"
        )
        return cid, _und_df(spark, edges), mentions, normalize_lemma

    def test_links_expands_and_attaches_stats(self, spark):
        cid, und, mentions, _norm = self._fixture(spark)
        rows = queries.local_search(
            und, mentions, terms=["Apache Spark", "no such entity"], top_k=10
        ).collect()
        by_id = {r["id"]: r for r in rows}
        # seed flagged, ranked first, stats attached
        seed = by_id[cid["apache_spark"]]
        assert seed["is_seed"] == 1 and seed["lemma"] == "apache_spark"
        assert seed["n_mentions"] == 2 and seed["n_chunks"] == 2
        # PPR expansion pulls in non-seed neighbors; ranks match the
        # exact numpy PPR oracle on the same graph (decay-from-seed is
        # NOT monotone on a path: a degree-1 seed pours all its mass
        # into its neighbor each round)
        assert by_id[cid["merge_sort"]]["is_seed"] == 0
        edges = [
            (cid["apache_spark"], cid["merge_sort"]),
            (cid["merge_sort"], cid["table_scan"]),
            (cid["table_scan"], cid["key_value"]),
        ]
        want = _np_ppr(edges, [cid["apache_spark"]])
        for r in rows:
            assert abs(r["rank"] - round(want[r["id"]], 8)) < 1e-8, r["id"]

    def test_matches_ppr_composition(self, spark):
        cid, und, mentions, norm = self._fixture(spark)
        terms = ["MergeSort", "Table Scan"]
        got = {
            r["id"]: r["rank"]
            for r in queries.local_search(und, mentions, terms=terms, top_k=10).collect()
        }
        seeds = sorted({cid[norm(t)] for t in terms})
        want = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(und, seeds, top_k=10).collect()
        }
        assert got == want

    def test_all_terms_absent_returns_empty(self, spark):
        _cid, und, mentions, _norm = self._fixture(spark)
        assert (
            queries.local_search(und, mentions, terms=["nothing here"]).count() == 0
        )


def _py_walks(edges, walks_per_node, walk_length, seed=42):
    import hashlib

    sym = set(edges) | {(b, a) for a, b in edges}
    adj: dict[str, list[str]] = {}
    for a, b in sorted(sym):
        adj.setdefault(a, []).append(b)
    rows = []
    for node in sorted(adj):
        for w in range(walks_per_node):
            walk_id = f"{node}#{w}"
            cur = node
            rows.append((walk_id, 0, node))
            for t in range(1, walk_length + 1):
                h = int(
                    hashlib.md5(f"{seed}|{walk_id}|{t}".encode()).hexdigest()[:8],
                    16,
                )
                cur = adj[cur][h % len(adj[cur])]
                rows.append((walk_id, t, cur))
    return rows


class TestRandomWalks:
    def test_matches_python_oracle(self, spark):
        got = [
            (r["walk_id"], r["step"], r["node"])
            for r in queries.random_walks(
                _und_df(spark, EDGES), walks_per_node=2, walk_length=5
            ).collect()
        ]
        assert sorted(got) == sorted(_py_walks(EDGES, 2, 5))

    def test_every_step_is_an_edge(self, spark):
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        rows = queries.random_walks(
            _und_df(spark, EDGES), walks_per_node=1, walk_length=6
        ).collect()
        by_walk: dict[str, list] = {}
        for r in rows:
            by_walk.setdefault(r["walk_id"], []).append((r["step"], r["node"]))
        for wid, steps in by_walk.items():
            steps.sort()
            assert [s for s, _ in steps] == list(range(7))
            assert steps[0][1] == wid.split("#")[0]
            for (_, a), (_, b) in zip(steps, steps[1:]):
                assert (a, b) in sym
    def test_deterministic_and_seed_sensitive(self, spark):
        und = _und_df(spark, EDGES)
        a = sorted(map(tuple, queries.random_walks(und, 1, 4, seed=42).collect()))
        b = sorted(map(tuple, queries.random_walks(und, 1, 4, seed=42).collect()))
        c = sorted(map(tuple, queries.random_walks(und, 1, 4, seed=7).collect()))
        assert a == b
        assert a != c


def _py_neighbor_sample(edges, fanouts, seed=42):
    import hashlib

    sym = set(edges) | {(b, a) for a, b in edges}
    adj: dict[str, list[str]] = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    ranked = {
        v: sorted(
            nbrs,
            key=lambda n: (
                hashlib.md5(f"{seed}|{v}|{n}".encode()).hexdigest(),
                n,
            ),
        )
        for v, nbrs in adj.items()
    }
    out = set()
    for root in adj:
        frontier = {root}
        for hop, fan in enumerate(fanouts, 1):
            nxt = set()
            for src in frontier:
                for dst in ranked[src][:fan]:
                    out.add((root, hop, src, dst))
                    nxt.add(dst)
            frontier = nxt
    return out


class TestNeighborSample:
    def test_matches_python_oracle(self, spark):
        got = {
            (r["root"], r["hop"], r["src"], r["dst"])
            for r in queries.neighbor_sample(
                _und_df(spark, EDGES), fanouts=(2, 2)
            ).collect()
        }
        assert got == _py_neighbor_sample(EDGES, (2, 2))

    def test_fanout_bounds_per_src(self, spark):
        rows = queries.neighbor_sample(
            _und_df(spark, EDGES), fanouts=(2, 1)
        ).collect()
        from collections import Counter

        per = Counter((r["root"], r["hop"], r["src"]) for r in rows)
        for (_, hop, _), n in per.items():
            assert n <= (2 if hop == 1 else 1)

    def test_large_fanout_is_full_expansion(self, spark):
        # fanout >= max degree: hop-1 block == the full adjacency
        rows = queries.neighbor_sample(
            _und_df(spark, EDGES), fanouts=(100,)
        ).collect()
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        got = {(r["src"], r["dst"]) for r in rows}
        assert got == sym
        assert all(r["root"] == r["src"] and r["hop"] == 1 for r in rows)

    def test_explicit_roots(self, spark):
        roots = spark.createDataFrame([("a",)], "root string")
        rows = queries.neighbor_sample(
            _und_df(spark, EDGES), fanouts=(2, 2), roots=roots
        ).collect()
        assert rows and all(r["root"] == "a" for r in rows)


def _py_hindex_coreness(edges, iters=8):
    sym = set(edges) | {(b, a) for a, b in edges}
    adj: dict[str, list[str]] = {}
    for a, b in sym:
        adj.setdefault(a, []).append(b)
    val = {v: len(n) for v, n in adj.items()}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in adj.items():
            vs = sorted((val[n] for n in nbrs), reverse=True)
            nxt[v] = max(min(r, x) for r, x in enumerate(vs, 1))
        val = nxt
    return val


def _py_peel_coreness(edges):
    sym = set(edges) | {(b, a) for a, b in edges}
    adj: dict[str, set[str]] = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    deg = {v: len(n) for v, n in adj.items()}
    core = {}
    alive = set(adj)
    k = 0
    while alive:
        k_min = min(deg[v] for v in alive)
        k = max(k, k_min)
        peel = [v for v in alive if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for n in adj[v]:
                if n in alive:
                    deg[n] -= 1
                    if deg[n] <= k:
                        peel.append(n)
    return core


class TestCoreness:
    # two triangles sharing a path, plus a pendant: mixed 1-core/2-core
    G = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d"),
        ("f", "g"),
    ]

    def test_matches_hindex_python_oracle(self, spark):
        got = {
            r["id"]: r["coreness"]
            for r in queries.coreness(_und_df(spark, self.G), iters=8).collect()
        }
        assert got == _py_hindex_coreness(self.G, 8)

    def test_converges_to_exact_peeling_coreness(self, spark):
        got = {
            r["id"]: r["coreness"]
            for r in queries.coreness(_und_df(spark, self.G), iters=8).collect()
        }
        assert got == _py_peel_coreness(self.G)
        # triangles are 2-core, the pendant g is 1-core
        assert got["a"] == 2 and got["d"] == 2 and got["g"] == 1

    def test_clique_coreness(self, spark):
        k5 = [(a, b) for a in "vwxyz" for b in "vwxyz" if a < b]
        got = {
            r["id"]: r["coreness"]
            for r in queries.coreness(_und_df(spark, k5), iters=6).collect()
        }
        assert all(v == 4 for v in got.values())


class TestSkipgramPairs:
    def test_matches_python_oracle(self, spark):
        walks = queries.random_walks(_und_df(spark, EDGES), 1, 4)
        got = {
            (r["center"], r["context"]): r["n_pairs"]
            for r in queries.skipgram_pairs(walks, window=2).collect()
        }
        from collections import Counter

        want: Counter = Counter()
        by_walk: dict[str, dict[int, str]] = {}
        for wid, s, n in _py_walks(EDGES, 1, 4):
            by_walk.setdefault(wid, {})[s] = n
        for seq in by_walk.values():
            for i in seq:
                for j in seq:
                    if i != j and abs(i - j) <= 2:
                        want[(seq[i], seq[j])] += 1
        assert got == dict(want)

    def test_symmetric_counts(self, spark):
        walks = queries.random_walks(_und_df(spark, EDGES), 2, 4)
        got = {
            (r["center"], r["context"]): r["n_pairs"]
            for r in queries.skipgram_pairs(walks, window=1).collect()
        }
        for (c, x), n in got.items():
            assert got[(x, c)] == n


class TestContrastivePairs:
    def test_matches_python_oracle(self, spark):
        import hashlib

        got = {
            (r["a"], r["b"], r["label"])
            for r in queries.contrastive_edge_pairs(
                _und_df(spark, EDGES), negatives_per_pos=2
            ).collect()
        }
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        pos = {(a, b) for a, b in sym if a < b}
        nodes = sorted({a for a, _ in sym})
        want = {(a, b, 1) for a, b in pos}
        for a, b in pos:
            for j in range(2):
                h = int(
                    hashlib.md5(f"42|{a}|{b}|{j}".encode()).hexdigest()[:8], 16
                )
                c = nodes[h % len(nodes)]
                if c not in (a, b) and (a, c) not in sym:
                    want.add((a, c, 0))
        assert got == want

    def test_negatives_are_nonedges(self, spark):
        rows = queries.contrastive_edge_pairs(
            _und_df(spark, EDGES), negatives_per_pos=3
        ).collect()
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        for r in rows:
            if r["label"] == 0:
                assert (r["a"], r["b"]) not in sym and r["a"] != r["b"]
            else:
                assert (r["a"], r["b"]) in sym


class TestGraphStats:
    def test_matches_python_oracle(self, spark):
        r = queries.graph_stats(_und_df(spark, EDGES)).collect()[0]
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        nodes = sorted({a for a, _ in sym})
        deg = {v: sum(1 for a, _ in sym if a == v) for v in nodes}
        import itertools

        tris = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in sym and (b, c) in sym and (a, c) in sym
        )
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        n, m = len(nodes), len(sym) // 2
        assert r["n_nodes"] == n and r["n_edges"] == m
        assert r["max_degree"] == max(deg.values())
        assert abs(r["avg_degree"] - round(2 * m / n, 6)) < 1e-9
        assert abs(r["density"] - round(2 * m / (n * (n - 1)), 6)) < 1e-9
        assert r["n_triangles"] == tris
        assert abs(r["global_clustering"] - round(3 * tris / wedges, 6)) < 1e-9

    def test_triangle_free(self, spark):
        star = [("hub", x) for x in "abcd"]
        r = queries.graph_stats(_und_df(spark, star)).collect()[0]
        assert r["n_triangles"] == 0 and r["global_clustering"] == 0.0
        assert r["max_degree"] == 4 and r["n_edges"] == 4


class TestWeightedPPR:
    def test_matches_numpy_weighted_oracle(self, spark):
        w_edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0), ("c", "d", 5.0)]
        sym = w_edges + [(b, a, w) for a, b, w in w_edges]
        df = spark.createDataFrame(sym, "cid string, nbr_id string, w double")
        got = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                df, seeds=["a"], top_k=100, weight_col="w"
            ).collect()
        }
        nodes = sorted({a for a, _, _ in sym})
        idx = {v: i for i, v in enumerate(nodes)}
        strength = np.zeros(len(nodes))
        for a, _, w in sym:
            strength[idx[a]] += w
        tp = np.zeros(len(nodes))
        tp[idx["a"]] = 1.0
        r = tp.copy()
        for _ in range(10):
            inflow = np.zeros(len(nodes))
            for a, b, w in sym:
                inflow[idx[b]] += r[idx[a]] * w / strength[idx[a]]
            r = 0.15 * tp + 0.85 * inflow
        for v in nodes:
            if r[idx[v]] > 0:
                assert abs(got[v] - round(r[idx[v]], 8)) < 1e-8, v
        # weighting changes the answer
        unw = {
            r2["id"]: r2["rank"]
            for r2 in queries.personalized_pagerank(
                df.drop("w"), seeds=["a"], top_k=100
            ).collect()
        }
        assert got != unw

    def test_uniform_weights_equal_unweighted(self, spark):
        df = _und_df(spark, EDGES).withColumn("w", F.lit(1.0))
        a = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                df, seeds=["c"], top_k=100, weight_col="w"
            ).collect()
        }
        b = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                _und_df(spark, EDGES), seeds=["c"], top_k=100
            ).collect()
        }
        assert a == b


class TestAdamicAdar:
    def test_hand_computed_scores(self, spark):
        import math

        # p and q share middles m1 (deg 2) and m2 (deg 3: also touches x)
        edges = [("p", "m1"), ("p", "m2"), ("q", "m1"), ("q", "m2"), ("m2", "x")]
        rows = queries.adamic_adar(
            _und_df(spark, edges), top_k=10, min_common=2
        ).collect()
        got = {(r["a"], r["b"]): (r["common"], r["aa"], r["ra"]) for r in rows}
        aa = round(1 / math.log(2) + 1 / math.log(3), 6)
        ra = round(1 / 2 + 1 / 3, 6)
        # (m1, m2) is also non-adjacent and shares p, q (both degree 2)
        aa_m = round(2 / math.log(2), 6)
        assert got == {("p", "q"): (2, aa, ra), ("m1", "m2"): (2, aa_m, 1.0)}

    def test_adjacent_pairs_excluded(self, spark):
        rows = queries.adamic_adar(
            _und_df(spark, [("a", "b"), ("a", "c"), ("b", "c")]), min_common=1
        ).collect()
        assert rows == []

    def test_hub_discounted_below_tight_pair(self, spark):
        # (a, b) share a degree-2 middle; (c, d) share a degree-6 hub:
        # same common count, but AA ranks the tight pair first
        edges = [("a", "m"), ("b", "m")] + [
            ("h", x) for x in ("c", "d", "e", "f", "g", "i")
        ]
        rows = queries.adamic_adar(
            _und_df(spark, edges), top_k=100, min_common=1
        ).collect()
        pairs = [(r["a"], r["b"]) for r in rows]
        assert pairs.index(("a", "b")) < pairs.index(("c", "d"))

    def test_max_degree_caps_middle(self, spark):
        edges = [("h", x) for x in ("l1", "l2", "l3", "l4")]
        assert (
            queries.adamic_adar(
                _und_df(spark, edges), min_common=1, max_degree=3
            ).count()
            == 0
        )


class TestLinkPrediction:
    def test_hand_computed_feature_row(self, spark):
        import math

        # p and q share middles m1 (deg 2) and m2 (deg 3: also touches x);
        # deg(p) = deg(q) = 2, so jaccard(p,q) = 2 / (2 + 2 - 2) = 1.0
        edges = [("p", "m1"), ("p", "m2"), ("q", "m1"), ("q", "m2"), ("m2", "x")]
        rows = queries.link_prediction(
            _und_df(spark, edges), top_k=10, min_common=2
        ).collect()
        got = {
            (r["a"], r["b"]): (r["common"], r["jaccard"], r["aa"], r["ra"], r["pa"])
            for r in rows
        }
        aa = round(1 / math.log(2) + 1 / math.log(3), 6)
        ra = round(1 / 2 + 1 / 3, 6)
        aa_m = round(2 / math.log(2), 6)
        # (m1, m2): deg(m1)=2, deg(m2)=3, common=2 -> jacc 2/3, pa 6
        assert got == {
            ("p", "q"): (2, 1.0, aa, ra, 4),
            ("m1", "m2"): (2, round(2 / 3, 6), aa_m, 1.0, 6),
        }

    def test_superset_of_adamic_adar_ranking(self, spark):
        edges = [("a", "m"), ("b", "m")] + [
            ("h", x) for x in ("c", "d", "e", "f", "g", "i")
        ]
        und = _und_df(spark, edges)
        lp = queries.link_prediction(und, top_k=100, min_common=1).collect()
        aa = queries.adamic_adar(und, top_k=100, min_common=1).collect()
        assert [(r["a"], r["b"], r["common"], r["aa"], r["ra"]) for r in lp] == [
            (r["a"], r["b"], r["common"], r["aa"], r["ra"]) for r in aa
        ]

    def test_endpoint_degrees_exact_under_max_degree_cap(self, spark):
        # hub h (deg 6) is capped as a MIDDLE, but when c,d also share a
        # low-degree middle m their pa/jaccard must still use the TRUE
        # endpoint degrees (deg(c)=deg(d)=2), not cap artifacts
        edges = [("h", x) for x in ("c", "d", "e", "f", "g", "i")] + [
            ("c", "m"),
            ("d", "m"),
        ]
        rows = queries.link_prediction(
            _und_df(spark, edges), top_k=10, min_common=1, max_degree=3
        ).collect()
        got = {(r["a"], r["b"]): r for r in rows}
        assert ("c", "d") in got
        r = got[("c", "d")]
        assert r["common"] == 1  # only m counted (h capped out)
        assert r["pa"] == 4  # 2 * 2: true degrees include the h edges
        assert r["jaccard"] == round(1 / (2 + 2 - 1), 6)


class TestWarmStartPagerank:
    def _np_pr(self, edges, iters, init=None):
        nodes = sorted({v for e in edges for v in e})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        sym = sorted(set(edges) | {(b, a) for a, b in edges})
        deg = np.zeros(n)
        for a, _ in sym:
            deg[idx[a]] += 1
        r = np.full(n, 1.0 / n)
        if init:
            for v, x in init.items():
                if v in idx:
                    r[idx[v]] = x
        for _ in range(iters):
            inflow = np.zeros(n)
            for a, b in sym:
                inflow[idx[b]] += r[idx[a]] / deg[idx[a]]
            r = (1 - 0.85) / n + 0.85 * inflow
        return {v: r[idx[v]] for v in nodes}

    # skewed hub-and-spoke graph (6-hub ring, 8 leaves each): the
    # stationary distribution is far from uniform, so a warm start
    # from yesterday's scores has a real edge; the delta (one new
    # leaf) is small relative to the graph — the incremental regime
    EDGES_BASE = [(f"h{i}", f"h{(i + 1) % 6}") for i in range(6)] + [
        (f"h{i}", f"l{i}_{j}") for i in range(6) for j in range(8)
    ]
    DELTA = [("h0", "lx_new")]

    def test_warm_start_matches_numpy_and_beats_cold(self, spark):
        prev = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(
                _und_df(spark, self.EDGES_BASE), iters=10, top_k=None
            ).collect()
        }
        new_edges = self.EDGES_BASE + self.DELTA
        und2 = _und_df(spark, new_edges)
        init = spark.createDataFrame(list(prev.items()), "id string, rank double")
        warm = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(
                und2, iters=3, top_k=None, init=init
            ).collect()
        }
        # exact parity with the numpy replay of the same warm start
        np_warm = self._np_pr(new_edges, 3, init=prev)
        for v, x in np_warm.items():
            assert abs(warm[v] - round(x, 8)) < 1e-8, v
        # warm 3 iters is closer to the converged field than cold 3
        ref = self._np_pr(new_edges, 50)
        cold3 = self._np_pr(new_edges, 3)
        err_warm = sum(abs(np_warm[v] - ref[v]) for v in ref)
        err_cold = sum(abs(cold3[v] - ref[v]) for v in ref)
        assert err_warm < err_cold / 3
        assert err_warm < 0.05

    def test_new_nodes_default_to_uniform(self, spark):
        und = _und_df(spark, self.EDGES_BASE + self.DELTA)
        empty_init = spark.createDataFrame([], "id string, rank double")
        warm0 = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(
                und, iters=5, top_k=None, init=empty_init
            ).collect()
        }
        cold = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(und, iters=5, top_k=None).collect()
        }
        assert warm0 == cold


class TestNodeFeatures:
    def test_matches_component_queries(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
        und = _und_df(spark, edges)
        feats = {r["id"]: r for r in queries.node_features(und).collect()}
        deg = {"a": 2, "b": 2, "c": 3, "d": 2, "e": 1}
        core = {
            r["id"]: r["coreness"] for r in queries.coreness(und).collect()
        }
        pr = {
            r["id"]: r["rank"]
            for r in queries.pagerank_und(und, top_k=None).collect()
        }
        lab = {
            r["id"]: r["label"]
            for r in queries.label_propagation(und).collect()
        }
        assert set(feats) == set(deg)
        for v, row in feats.items():
            assert row["degree"] == deg[v]
            assert row["coreness"] == core[v]
            assert row["pagerank"] == pr[v]
            assert row["community"] == lab[v]


class TestShortestPathBetween:
    def _wund(self, spark, wedges):
        sym = wedges + [(b, a, w) for a, b, w in wedges]
        return spark.createDataFrame(sym, "cid string, nbr_id string, w double")

    def test_reconstructs_cheaper_long_path(self, spark):
        # direct a-e costs 10; a-b-c-e costs 3
        wund = self._wund(
            spark,
            [("a", "e", 10.0), ("a", "b", 1.0), ("b", "c", 1.0), ("c", "e", 1.0)],
        )
        rows = queries.shortest_path_between(wund, "a", "e", iters=6).collect()
        assert [(r["step"], r["id"], r["dist"]) for r in rows] == [
            (0, "a", 0.0),
            (1, "b", 1.0),
            (2, "c", 2.0),
            (3, "e", 3.0),
        ]

    def test_equal_length_paths_pick_smallest_pred(self, spark):
        # two 2-hop paths a-m1-z and a-m2-z with identical weights:
        # the witness must deterministically route through m1
        wund = self._wund(
            spark,
            [("a", "m1", 1.0), ("a", "m2", 1.0), ("m1", "z", 1.0), ("m2", "z", 1.0)],
        )
        rows = queries.shortest_path_between(wund, "a", "z", iters=4).collect()
        assert [r["id"] for r in rows] == ["a", "m1", "z"]

    def test_unreachable_is_empty(self, spark):
        wund = self._wund(spark, [("a", "b", 1.0), ("x", "y", 1.0)])
        assert queries.shortest_path_between(wund, "a", "y", iters=6).count() == 0

    def test_hop_budget_respected(self, spark):
        # z is 3 hops away; iters=2 cannot reach it
        wund = self._wund(
            spark, [("a", "b", 1.0), ("b", "c", 1.0), ("c", "z", 1.0)]
        )
        assert queries.shortest_path_between(wund, "a", "z", iters=2).count() == 0
        assert queries.shortest_path_between(wund, "a", "z", iters=3).count() == 4


class TestContextPack:
    def _fixture(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.functions.purecore import concept_id

        a, b, c = concept_id("alpha"), concept_id("beta"), concept_id("gamma")
        und = _und_df(spark, [(a, b), (b, c)])
        mentions = spark.createDataFrame(
            [(a, "k1"), (a, "k2"), (a, "k3"), (a, "k4"), (b, "k1"), (c, "k5")],
            "concept_id string, chunk_id string",
        )
        chunks = spark.createDataFrame(
            [
                ("k1", "one two three four five"),        # 5 tokens
                ("k2", "six seven eight"),                # 3 tokens
                ("k3", "nine ten"),                       # 2 tokens
                ("k4", "eleven"),                         # 1 token
                ("k5", "twelve thirteen fourteen"),       # 3 tokens
            ],
            "chunk_id string, text string",
        )
        return und, mentions, chunks, (a, b, c)

    def test_budget_cap_and_order(self, spark):
        und, mentions, chunks, (a, b, c) = self._fixture(spark)
        rows = queries.context_pack(
            und,
            mentions,
            chunks,
            terms=["alpha"],
            token_budget=9,
            evidence_per_entity=3,
        ).collect()
        # seed 'alpha' ranks first; its first 3 chunks by id are
        # k1(5) k2(3) k3(2): cum 5, 8, 10 -> k3 breaks the budget
        assert [(r["pos"], r["chunk_id"], r["cum_tokens"]) for r in rows] == [
            (1, "k1", 5),
            (2, "k2", 8),
        ]
        assert all(r["id"] == a for r in rows)

    def test_per_entity_evidence_cap(self, spark):
        und, mentions, chunks, (a, b, c) = self._fixture(spark)
        rows = queries.context_pack(
            und,
            mentions,
            chunks,
            terms=["alpha"],
            token_budget=10_000,
            evidence_per_entity=2,
        ).collect()
        per = {}
        for r in rows:
            per[r["id"]] = per.get(r["id"], 0) + 1
        # alpha has 4 mentioning chunks but contributes only 2
        assert per[a] == 2
        # positions are contiguous prompt order and cum is a prefix sum
        assert [r["pos"] for r in rows] == list(range(1, len(rows) + 1))
        cum = 0
        for r in rows:
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum

    def test_seed_entity_ranks_first(self, spark):
        und, mentions, chunks, (a, b, c) = self._fixture(spark)
        rows = queries.context_pack(
            und, mentions, chunks, terms=["alpha"], token_budget=10_000
        ).collect()
        assert rows[0]["id"] == a


class TestEmbeddingNeighbors:
    def _emb(self, spark, vecs):
        rows = [(i, j, float(v)) for i, vec in vecs.items() for j, v in enumerate(vec)]
        return spark.createDataFrame(rows, "id string, j int, val double")

    def test_hand_computed_cosine_ranking(self, spark):
        vecs = {
            "s": [1.0, 0.0],
            "same": [2.0, 0.0],      # cos 1.0
            "diag": [1.0, 1.0],      # cos 0.707107
            "orth": [0.0, 3.0],      # cos 0.0
            "anti": [-1.0, 0.0],     # cos -1.0
        }
        got = [
            (r["sid"], r["id"], r["cos"])
            for r in queries.embedding_neighbors(
                self._emb(spark, vecs), seed_ids=["s"], top_k=3
            ).collect()
        ]
        assert got == [
            ("s", "same", 1.0),
            ("s", "diag", 0.707107),
            ("s", "orth", 0.0),
        ]

    def test_seed_excluded_and_multi_seed(self, spark):
        vecs = {"a": [1.0, 0.0], "b": [0.0, 1.0], "c": [1.0, 1.0]}
        rows = queries.embedding_neighbors(
            self._emb(spark, vecs), seed_ids=["a", "b"], top_k=5
        ).collect()
        per_seed = {}
        for r in rows:
            per_seed.setdefault(r["sid"], []).append(r["id"])
            assert r["id"] != r["sid"]
        assert set(per_seed) == {"a", "b"}
        assert set(per_seed["a"]) == {"b", "c"}


class TestNode2Vec:
    def _py_walks(self, edges, p=4.0, q=0.25, walk_length=3, seed=42):
        """Independent pure-python replay of node2vec_walks: same md5
        draw, same binary-exact weights, same first-exceeding-cumsum
        pick — a third engine besides Spark and the DuckDB oracle."""
        import hashlib
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
        out = []
        for start in sorted(adj):
            walk_id = f"{start}#0"
            prev, cur = start, start
            out.append((walk_id, 0, start))
            for t in range(1, walk_length + 1):
                cands = []
                for x in sorted(adj[cur]):
                    if x == prev:
                        w = 1.0 / p
                    elif (min(x, prev), max(x, prev)) in eset:
                        w = 1.0
                    else:
                        w = 1.0 / q
                    cands.append((x, w))
                h = hashlib.md5(f"{seed}|{walk_id}|{t}".encode()).hexdigest()
                u = int(h[:8], 16) / 2**32
                r = u * sum(w for _, w in cands)
                cum = 0.0
                for x, w in cands:
                    cum += w
                    if cum > r:
                        prev, cur = cur, x
                        break
                out.append((walk_id, t, cur))
        return sorted(out)

    EDGES_N2V = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # triangle
        ("c", "d"), ("d", "e"),              # tail
        ("b", "f"), ("f", "g"),              # branch
    ]

    def test_matches_pure_python_replay(self, spark):
        got = sorted(
            (r["walk_id"], r["step"], r["node"])
            for r in queries.node2vec_walks(
                _und_df(spark, self.EDGES_N2V), walk_length=3
            ).collect()
        )
        assert got == self._py_walks(self.EDGES_N2V)

    def test_every_step_is_an_edge(self, spark):
        rows = queries.node2vec_walks(
            _und_df(spark, self.EDGES_N2V), walk_length=3
        ).collect()
        eset = {(min(a, b), max(a, b)) for a, b in self.EDGES_N2V}
        walks = {}
        for r in rows:
            walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
        for wid, steps in walks.items():
            assert sorted(steps) == [0, 1, 2, 3], wid
            for t in range(3):
                a, b = steps[t], steps[t + 1]
                assert (min(a, b), max(a, b)) in eset, (wid, t)

    def test_partitioning_independent(self, spark):
        df = _und_df(spark, self.EDGES_N2V)
        a = sorted(map(tuple, queries.node2vec_walks(df.repartition(1)).collect()))
        b = sorted(map(tuple, queries.node2vec_walks(df.repartition(16)).collect()))
        assert a == b

    def test_pq_changes_the_corpus(self, spark):
        df = _und_df(spark, self.EDGES_N2V)
        bfs = sorted(
            map(tuple, queries.node2vec_walks(df, p=4.0, q=4.0).collect())
        )
        dfs = sorted(
            map(tuple, queries.node2vec_walks(df, p=4.0, q=0.25).collect())
        )
        assert bfs != dfs


class TestShortestPaths:
    def _wund(self, spark, wedges):
        sym = wedges + [(b, a, w) for a, b, w in wedges]
        return spark.createDataFrame(sym, "cid string, nbr_id string, w double")

    def test_weighted_beats_hop_count(self, spark):
        # s-a-b-t costs 0.3; direct s-t edge costs 1.0
        wedges = [("s", "a", 0.1), ("a", "b", 0.1), ("b", "t", 0.1), ("s", "t", 1.0)]
        got = {
            r["id"]: r["dist"]
            for r in queries.shortest_paths(
                self._wund(spark, wedges), ["s"], iters=6
            ).collect()
        }
        assert got == {"s": 0.0, "a": 0.1, "b": 0.2, "t": round(0.3, 6)}

    def test_hop_bound_truncates(self, spark):
        # chain of 4 edges; 2 rounds reach only distance-2 nodes
        wedges = [("n0", "n1", 1.0), ("n1", "n2", 1.0), ("n2", "n3", 1.0), ("n3", "n4", 1.0)]
        got = {
            r["id"]: r["dist"]
            for r in queries.shortest_paths(
                self._wund(spark, wedges), ["n0"], iters=2
            ).collect()
        }
        assert got == {"n0": 0.0, "n1": 1.0, "n2": 2.0}

    def test_multi_source_takes_min(self, spark):
        wedges = [("s1", "m", 1.0), ("s2", "m", 0.25), ("m", "t", 1.0)]
        got = {
            r["id"]: r["dist"]
            for r in queries.shortest_paths(
                self._wund(spark, wedges), ["s1", "s2"], iters=6
            ).collect()
        }
        assert got["m"] == 0.25 and got["t"] == 1.25
        assert got["s1"] == 0.0 and got["s2"] == 0.0

    def test_matches_bellman_ford_oracle(self, spark):
        # deterministic pseudo-random graph vs a pure-python oracle
        import itertools

        nodes = [f"v{i}" for i in range(12)]
        wedges = [
            (a, b, ((i * 7 + 3) % 10 + 1) / 10.0)
            for i, (a, b) in enumerate(itertools.combinations(nodes, 2))
            if (i * 13 + 5) % 4 == 0
        ]
        dist = {"v0": 0.0}
        for _ in range(6):
            sym = wedges + [(b, a, w) for a, b, w in wedges]
            relaxed = dict(dist)
            for a, b, w in sym:
                if a in dist and dist[a] + w < relaxed.get(b, float("inf")):
                    relaxed[b] = dist[a] + w
            dist = relaxed
        got = {
            r["id"]: r["dist"]
            for r in queries.shortest_paths(
                self._wund(spark, wedges), ["v0"], iters=6
            ).collect()
        }
        assert got == {k: round(v, 6) for k, v in dist.items()}


def _isa_df(spark, edges):
    return spark.createDataFrame(edges, "child_id string, parent_id string")


class TestTaxonomyClosure:
    def _clo(self, spark, edges, depth=4):
        rows = queries.taxonomy_closure(_isa_df(spark, edges), max_depth=depth).collect()
        return {(r["desc_id"], r["anc_id"]): r["depth"] for r in rows}

    def test_chain_full_closure(self, spark):
        got = self._clo(spark, [("a", "b"), ("b", "c"), ("c", "d")], depth=3)
        assert got == {
            ("a", "b"): 1, ("a", "c"): 2, ("a", "d"): 3,
            ("b", "c"): 1, ("b", "d"): 2, ("c", "d"): 1,
        }

    def test_converging_paths_min_depth(self, spark):
        # diamond: both a->b->d and a->c->d reach d; plus a direct a->d
        # shortcut wins with depth 1
        got = self._clo(
            spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")]
        )
        assert got[("a", "d")] == 1
        assert got[("b", "d")] == 1 and got[("a", "b")] == 1

    def test_depth_bound_truncates(self, spark):
        got = self._clo(
            spark, [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4")], depth=2
        )
        assert ("n0", "n2") in got and ("n0", "n3") not in got

    def test_self_loops_dropped(self, spark):
        got = self._clo(spark, [("a", "a"), ("a", "b")])
        assert got == {("a", "b"): 1}


class TestTaxonomyRollup:
    def test_hand_computed(self, spark):
        clo = queries.taxonomy_closure(
            _isa_df(spark, [("a", "c"), ("b", "c"), ("c", "r")]), max_depth=4
        )
        mc = spark.createDataFrame(
            [("a", 5), ("b", 2), ("c", 3)], "concept_id string, n_mentions long"
        )
        rows = queries.taxonomy_rollup(clo, mc).collect()
        got = {
            r["anc_id"]: (r["n_desc"], r["self_mentions"], r["total_mentions"])
            for r in rows
        }
        # c subsumes a, b (3 + 5 + 2 = 10); r subsumes a, b, c but has
        # no mentions of its own (0 + 10 = 10)
        assert got == {"c": (2, 3, 10), "r": (3, 0, 10)}
        # deterministic tie-break: anc_id ascending at equal total
        assert [r["anc_id"] for r in rows] == ["c", "r"]


class TestHits:
    def _np_hits(self, edges, iters=8):
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        h = np.ones(n)
        a = np.zeros(n)
        for _ in range(iters):
            a = np.zeros(n)
            for s, d in edges:
                a[idx[d]] += h[idx[s]]
            a = a / np.sqrt((a * a).sum())
            h = np.zeros(n)
            for s, d in edges:
                h[idx[s]] += a[idx[d]]
            h = h / np.sqrt((h * h).sum())
        return {v: (a[idx[v]], h[idx[v]]) for v in nodes}

    def _run(self, spark, edges, iters=8):
        df = spark.createDataFrame(edges, "src_id string, dst_id string")
        return {
            r["id"]: (r["auth"], r["hub"])
            for r in queries.hits(df, iters=iters, top_k=100).collect()
        }

    def test_matches_numpy_oracle(self, spark):
        edges = [
            ("a", "c"), ("b", "c"), ("d", "c"), ("c", "e"),
            ("a", "e"), ("e", "f"), ("b", "d"),
        ]
        got = self._run(spark, edges)
        want = self._np_hits(edges)
        assert set(got) == set(want)
        for v, (wa, wh) in want.items():
            assert abs(got[v][0] - round(wa, 6)) < 2e-6, ("auth", v)
            assert abs(got[v][1] - round(wh, 6)) < 2e-6, ("hub", v)

    def test_pure_sink_is_authority_not_hub(self, spark):
        # star: everyone points at 'c'; 'c' points at nothing
        got = self._run(spark, [("a", "c"), ("b", "c"), ("d", "c")])
        assert got["c"][0] == 1.0 and got["c"][1] == 0.0
        assert got["a"][1] > 0 and got["a"][0] == 0.0

    def test_direction_matters(self, spark):
        fwd = self._run(spark, [("a", "b"), ("c", "b")])
        rev = self._run(spark, [("b", "a"), ("b", "c")])
        # reversing every edge swaps the hub and authority vectors
        assert fwd["b"][0] == rev["b"][1] and fwd["a"][1] == rev["a"][0]


class TestFastRP:
    def _np_fastrp(self, edges, dims=8, weights=(0.3, 0.5, 1.0), seed="fastrp"):
        import hashlib

        sym = sorted(set(edges) | {(b, a) for a, b in edges})
        nodes = sorted({a for a, _ in sym})
        nbrs = {v: sorted(b for a, b in sym if a == v and b != v) for v in nodes}

        def h32(v, j):
            return int(hashlib.md5(f"{seed}|{v}|{j}".encode()).hexdigest()[:8], 16)

        x = {v: np.array([1.0 if h32(v, j) % 2 == 0 else -1.0 for j in range(dims)])
             for v in nodes}
        out = {v: np.zeros(dims) for v in nodes}
        for w in weights:
            nx = {v: sum(x[u] for u in nbrs[v]) / len(nbrs[v]) for v in nodes}
            for v in nodes:
                nrm = np.sqrt((nx[v] ** 2).sum())
                nx[v] = nx[v] / nrm if nrm > 0 else nx[v] * 0.0
            x = nx
            for v in nodes:
                out[v] = out[v] + w * x[v]
        return out

    def test_matches_numpy_oracle(self, spark):
        got = {}
        for r in queries.fastrp_embeddings(_und_df(spark, EDGES), dims=8).collect():
            got.setdefault(r["id"], {})[r["j"]] = r["val"]
        want = self._np_fastrp(EDGES)
        assert set(got) == set(want)
        for v, vec in want.items():
            for j in range(8):
                assert abs(got[v][j] - round(vec[j], 6)) < 2e-6, (v, j)

    def test_deterministic_across_runs(self, spark):
        und = _und_df(spark, EDGES)
        a = queries.fastrp_embeddings(und, dims=4).collect()
        b = queries.fastrp_embeddings(und, dims=4).collect()
        assert a == b

    def test_structural_twins_embed_identically_iff_same_hash_init(self, spark):
        # two leaves hanging off the same hub get the same neighbor
        # aggregation at every level, but their hash inits differ —
        # level sums differ while the PROPAGATED part (levels >= 2,
        # which only see the hub) converges; just pin the contract:
        # every node gets dims rows and finite values
        rows = queries.fastrp_embeddings(
            _und_df(spark, [("h", "l1"), ("h", "l2")]), dims=4
        ).collect()
        assert len(rows) == 3 * 4
        assert all(abs(r["val"]) < 10 for r in rows)


class TestBetweenness:
    def _py_brandes(self, edges, sources, max_hops=4):
        from collections import defaultdict, deque

        sym = set(edges) | {(b, a) for a, b in edges}
        nbrs = defaultdict(set)
        for a, b in sym:
            if a != b:
                nbrs[a].add(b)
        bc = defaultdict(float)
        for s in sources:
            dist = {s: 0}
            sigma = defaultdict(float)
            sigma[s] = 1.0
            order = []
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= max_hops:
                    continue
                for w in sorted(nbrs[u]):
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        order.append(w)
                        q.append(w)
                    if dist[w] == dist[u] + 1:
                        sigma[w] += sigma[u]
            delta = defaultdict(float)
            for w in reversed(order):
                for u in nbrs[w]:
                    if dist.get(u) == dist[w] - 1:
                        delta[u] += (sigma[u] / sigma[w]) * (1 + delta[w])
            for v in order:  # levels >= 1 only (sources excluded per-s)
                bc[v] += delta[v]
        return dict(bc)

    def test_matches_python_brandes(self, spark):
        edges = EDGES + [("g", "h"), ("b", "e")]
        got = {
            r["id"]: r["bc"]
            for r in queries.betweenness_sampled(
                _und_df(spark, edges), ["a", "f"], max_hops=4, top_k=100
            ).collect()
        }
        want = self._py_brandes(edges, ["a", "f"])
        assert set(got) == set(want)
        for v, w in want.items():
            assert abs(got[v] - round(w, 6)) < 2e-6, v

    def test_chain_midpoint_dominates(self, spark):
        # path a-b-c-d-e, sources {a, e}: c sits on every a<->e path
        chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
        got = {
            r["id"]: r["bc"]
            for r in queries.betweenness_sampled(
                _und_df(spark, chain), ["a", "e"], max_hops=4, top_k=100
            ).collect()
        }
        assert got["c"] >= got["b"] and got["c"] >= got["d"]
        want = self._py_brandes(chain, ["a", "e"])
        for v, w in want.items():
            assert abs(got[v] - round(w, 6)) < 2e-6, v

    def test_absent_source_contributes_nothing(self, spark):
        got = queries.betweenness_sampled(
            _und_df(spark, [("a", "b"), ("b", "c")]), ["zzz"], max_hops=4
        ).collect()
        assert got == []

    def test_equal_split_across_two_geodesics(self, spark):
        # two disjoint 2-hop routes a->m1->t and a->m2->t: each middle
        # carries half the dependency
        edges = [("a", "m1"), ("a", "m2"), ("m1", "t"), ("m2", "t")]
        got = {
            r["id"]: r["bc"]
            for r in queries.betweenness_sampled(
                _und_df(spark, edges), ["a"], max_hops=4, top_k=100
            ).collect()
        }
        assert got["m1"] == got["m2"] == 0.5


class TestBetweennessErrorBound:
    """The (eps, delta) guarantee of sampled betweenness (VERDICT r4
    brief #8): sample-size formula + sampled-vs-exact comparison on a
    200-node graph at the formula's default output."""

    def _graph200(self):
        # deterministic G(200, ~6/n) plus a ring so it is connected
        import random

        rng = random.Random(11)
        n = 200
        ids = [f"n{i:03d}" for i in range(n)]
        edges = [(ids[i], ids[(i + 1) % n]) for i in range(n)]
        for _ in range(3 * n):
            a, b = rng.sample(range(n), 2)
            edges.append((ids[a], ids[b]))
        return ids, sorted(set(edges))

    def test_sample_size_formula(self):
        import math

        # closed form below the cap
        n, eps, delta = 10**6, 0.05, 0.1
        want = math.ceil(math.log(2 * n / delta) / (2 * eps**2))
        assert queries.betweenness_sample_size(n, eps, delta) == want
        # monotone: tighter eps -> more sources
        assert queries.betweenness_sample_size(
            n, 0.01, delta
        ) > queries.betweenness_sample_size(n, 0.05, delta)
        # cap: small graphs saturate at n (the bound is vacuous there)
        assert queries.betweenness_sample_size(200, 0.1, 0.1) == 200
        assert queries.betweenness_sample_size(0, 0.1, 0.1) == 0
        # the 100-TB selling point: ln(n) growth
        assert queries.betweenness_sample_size(10**9, 0.05, 0.1) < 5000

    def test_capped_bound_is_exact_and_subsample_within_eps(self, spark):
        ids, edges = self._graph200()
        und = _und_df(spark, edges)
        n = len(ids)
        max_hops = 4
        bcls = TestBetweenness()
        exact = bcls._py_brandes(edges, ids, max_hops=max_hops)
        # at n=200 the (0.1, 0.1) bound caps at n -> exhaustive run,
        # estimate == exact k-betweenness bit-for-bit
        s_full = queries.betweenness_sample_size(n, eps=0.1, delta=0.1)
        assert s_full == n
        got = {
            r["id"]: r["bc"]
            for r in queries.betweenness_sampled(
                und, ids, max_hops=max_hops, top_k=10**6
            ).collect()
        }
        for v, w in exact.items():
            if round(w, 6) != 0:
                assert abs(got.get(v, 0.0) - round(w, 6)) < 2e-5, v
        # a genuine subsample (s=50 < n) scaled by n/s stays within
        # eps * n * (n-1) of exact — the Hoeffding bound with room to
        # spare (it is conservative; this pins the estimator's scaling
        # and the deterministic source draw, seed-stable)
        s = 50
        srcs = queries.sample_betweenness_sources(und, s)
        assert len(srcs) == s and srcs == queries.sample_betweenness_sources(und, s)
        est = {
            r["id"]: r["bc"] * n / s
            for r in queries.betweenness_sampled(
                und, srcs, max_hops=max_hops, top_k=10**6
            ).collect()
        }
        eps = 0.1
        bound = eps * n * (n - 1)
        worst = max(
            abs(est.get(v, 0.0) - w) for v, w in exact.items()
        )
        assert worst <= bound, (worst, bound)


class TestDriftSearch:
    def _fixture(self, spark):
        # two triangle communities (sync LPA oscillates on 2-node
        # components, so both sides are triangles); lemmas carry the
        # query term "zork" only in the b-side
        edges = [
            ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
            ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
        ]
        und = _und_df(spark, edges)
        labels = queries.label_propagation(und, iters=5)
        mentions = spark.createDataFrame(
            [("c1", "b1", "zork_alpha"), ("c1", "b2", "zork_beta"),
             ("c2", "b1", "zork_alpha"), ("c3", "a1", "plain")],
            "chunk_id string, concept_id string, lemma string",
        )
        return und, labels, mentions

    def test_drills_into_global_winner(self, spark):
        und, labels, mentions = self._fixture(spark)
        rows = queries.drift_search(und, labels, mentions, "zork", top_k=10).collect()
        ids = {r["id"] for r in rows}
        # expansion stays in the b-community (a-side has no teleport mass)
        assert ids == {"b1", "b2", "b3"}
        seeds = {r["id"] for r in rows if r["is_seed"] == 1}
        assert seeds == {"b1", "b2"}  # b3 has no matched mention
        by_id = {r["id"]: r for r in rows}
        assert by_id["b1"]["n_mentions"] == 2 and by_id["b1"]["lemma"] == "zork_alpha"

    def test_matches_manual_composition(self, spark):
        und, labels, mentions = self._fixture(spark)
        rows = queries.drift_search(und, labels, mentions, "zork", top_k=10).collect()
        pr = {
            r["id"]: r["rank"]
            for r in queries.personalized_pagerank(
                und, ["b1", "b2"], iters=10, top_k=10
            ).collect()
        }  # seeds = matched members of the winning community
        assert {r["id"]: r["rank"] for r in rows} == pr

    def test_no_match_returns_empty(self, spark):
        und, labels, mentions = self._fixture(spark)
        assert queries.drift_search(und, labels, mentions, "qqqq").count() == 0


class TestKtruss:
    """Iterated k-truss peeling: edge-level cohesion."""

    # K4 clique (every edge in 2 triangles) + a kite triangle hanging
    # off it (edges in exactly 1 triangle) + a pendant bridge.
    K4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    KITE = [("d", "e"), ("d", "f"), ("e", "f")]
    BRIDGE = [("f", "g")]

    def test_k4_truss_peels_kite_and_bridge(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        und = _und_df(spark, self.K4 + self.KITE + self.BRIDGE)
        # k=4 -> support >= 2: only the K4 clique survives
        out = q.ktruss(und, k=4, iters=3).collect()
        assert {(r.a_id, r.b_id) for r in out} == set(self.K4)
        # inside the surviving K4 every edge still has support 2
        assert all(r.support == 2 for r in out)

    def test_k3_keeps_all_triangle_edges(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        und = _und_df(spark, self.K4 + self.KITE + self.BRIDGE)
        out = q.ktruss(und, k=3, iters=3).collect()
        # support >= 1: clique + kite survive, the bridge is peeled
        assert {(r.a_id, r.b_id) for r in out} == set(self.K4 + self.KITE)

    def test_cascade_needs_iterations(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        # chain of triangles sharing single vertices: t1=(a,b,c),
        # t2=(c,d,e), where t2 additionally hangs off a 2-triangle
        # block; peeling t1 (support 1 < 2) does not cascade here, but
        # a strip of stacked triangles does: strip = x0-x1-x2-x3 with
        # edges making triangles (x0,x1,x2), (x1,x2,x3).  At k=4 round
        # 1 kills the outer edges (support 1), round 2 kills the now
        # triangle-less middle edge: iterated peeling must empty it.
        strip = [("x0", "x1"), ("x0", "x2"), ("x1", "x2"), ("x1", "x3"), ("x2", "x3")]
        und = _und_df(spark, strip)
        one = q.ktruss(und, k=4, iters=1).collect()
        assert {(r.a_id, r.b_id) for r in one} == {("x1", "x2")}
        assert one[0].support == 0  # its triangles died in the same round
        full = q.ktruss(und, k=4, iters=2).collect()
        assert full == []


class TestHarmonic:
    def _py_harmonic(self, edges, sources, max_hops=4, scale=1.0):
        from collections import defaultdict, deque

        sym = set(edges) | {(b, a) for a, b in edges}
        nbrs = defaultdict(set)
        for a, b in sym:
            if a != b:
                nbrs[a].add(b)
        h = defaultdict(float)
        for s in set(sources):
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= max_hops:
                    continue
                for w in nbrs[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            for v, d in dist.items():
                if d > 0:
                    h[v] += scale / d
        return {v: round(x, 6) for v, x in h.items()}

    def test_matches_python_bfs(self, spark):
        # path + triangle + a disconnected pair (harmonic's raison
        # d'etre: unreachable nodes contribute 0, nothing breaks)
        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("a", "c"),                       # shortcut
            ("x", "y"),                       # island
        ]
        got = {
            r["id"]: r["harmonic"]
            for r in queries.harmonic_sampled(
                _und_df(spark, edges), ["a", "e"], max_hops=4, top_k=20
            ).collect()
        }
        assert got == self._py_harmonic(edges, ["a", "e"])
        assert "x" not in got  # island never reached

    def test_scaling_and_topk(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d")]
        und = _und_df(spark, edges)
        scaled = {
            r["id"]: r["harmonic"]
            for r in queries.harmonic_sampled(
                und, ["a"], max_hops=4, top_k=2, n_nodes=4
            ).collect()
        }
        want = self._py_harmonic(edges, ["a"], scale=4.0)
        assert len(scaled) == 2  # top-k honored
        top2 = dict(sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:2])
        assert scaled == top2


def _py_scc(edges):
    """Iterative Tarjan over a directed edge list -> {node: min-id of SCC}."""
    adj = {}
    nodes = set()
    for a, b in edges:
        nodes.update((a, b))
        if a != b:
            adj.setdefault(a, []).append(b)
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comps = []
    counter = [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                comps.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    out = {}
    for comp in comps:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


class TestScc:
    def _run(self, spark, edges):
        df = spark.createDataFrame(edges, "src_id string, dst_id string")
        got = {
            r["id"]: r["scc_id"]
            for r in queries.scc(df).collect()
        }
        assert got == _py_scc(edges)

    def test_two_cycles_and_bridge(self, spark):
        # cycle {a,b,c} -> one-way bridge -> cycle {x,y}; chain tail
        self._run(
            spark,
            [
                ("a", "b"), ("b", "c"), ("c", "a"),
                ("c", "x"), ("x", "y"), ("y", "x"),
                ("y", "t1"), ("t1", "t2"),
            ],
        )

    def test_pure_dag_all_singletons(self, spark):
        self._run(
            spark,
            [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")],
        )

    def test_nested_color_chain_needs_multiple_peels(self, spark):
        # SCC {b,c} is only discovered after {a} (its smaller in-color
        # ancestor) peels: exercises the outer loop, not just round 1
        self._run(
            spark,
            [
                ("a", "b"), ("b", "c"), ("c", "b"),
                ("c", "d"), ("d", "e"), ("e", "d"),
            ],
        )

    def test_random_digraph_matches_tarjan(self, spark):
        import random

        rng = random.Random(42)
        nodes = [f"n{i:02d}" for i in range(40)]
        edges = sorted(
            {
                (rng.choice(nodes), rng.choice(nodes))
                for _ in range(160)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        self._run(spark, edges)

    def test_giant_cycle_single_round(self, spark):
        cyc = [(f"v{i}", f"v{(i + 1) % 12}") for i in range(12)]
        self._run(spark, cyc)


class TestWeightedPagerank:
    def test_matches_numpy_oracle(self, spark):
        import numpy as np

        wedges = [("a", "b", 5), ("a", "c", 1), ("b", "c", 2), ("c", "d", 1)]
        sym = wedges + [(b, a, w) for a, b, w in wedges]
        df = spark.createDataFrame(sym, "cid string, nbr_id string, w long")
        nodes = sorted({a for a, _, _ in sym})
        idx = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        strength = np.zeros(n)
        for a, _, w in sym:
            strength[idx[a]] += w
        r = np.full(n, 1.0 / n)
        for _ in range(10):
            inflow = np.zeros(n)
            for a, b, w in sym:
                inflow[idx[b]] += r[idx[a]] * w / strength[idx[a]]
            r = (1 - 0.85) / n + 0.85 * inflow
        got = {
            row["id"]: row["rank"]
            for row in queries.pagerank_und(df, weight_col="w", top_k=None).collect()
        }
        for v in nodes:
            assert abs(got[v] - r[idx[v]]) < 1e-8
        # the 5x a-b edge must pull b above c (unweighted they'd tie
        # by symmetry of degree 2... assert ordering changed by weight)
        assert got["b"] > got["c"]


class TestIndependentSet:
    def _py_greedy_mis(self, edges, seed="mis"):
        import hashlib

        adjm = {}
        nodes = set()
        for a, b in edges:
            if a == b:
                continue
            nodes.update((a, b))
            adjm.setdefault(a, set()).add(b)
            adjm.setdefault(b, set()).add(a)

        def pri(v):
            return hashlib.md5(f"{seed}|{v}".encode()).hexdigest() + "|" + v

        mis = set()
        for v in sorted(nodes, key=pri):
            if not (adjm.get(v, set()) & mis):
                mis.add(v)
        return {v: v in mis for v in nodes}

    def _run(self, spark, edges):
        sym = edges + [(b, a) for a, b in edges]
        df = spark.createDataFrame(sym, "cid string, nbr_id string")
        got = {r["id"]: r["in_mis"] for r in queries.independent_set(df).collect()}
        exp = self._py_greedy_mis(edges)
        assert got == exp
        # MIS properties: independence + maximality
        adjm = {}
        for a, b in edges:
            adjm.setdefault(a, set()).add(b)
            adjm.setdefault(b, set()).add(a)
        members = {v for v, m in got.items() if m}
        for v in members:
            assert not (adjm.get(v, set()) & members), "two adjacent MIS members"
        for v, m in got.items():
            if not m:
                assert adjm.get(v, set()) & members, "non-member with no MIS neighbor"

    def test_path(self, spark):
        self._run(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])

    def test_star_hub(self, spark):
        self._run(spark, [("hub", f"leaf{i}") for i in range(12)])

    def test_random_graph(self, spark):
        import random

        rng = random.Random(13)
        nodes = [f"n{i:02d}" for i in range(40)]
        edges = sorted({tuple(sorted((rng.choice(nodes), rng.choice(nodes)))) for _ in range(120)})
        self._run(spark, [(a, b) for a, b in edges if a != b])

    def test_triangle(self, spark):
        self._run(spark, [("x", "y"), ("y", "z"), ("x", "z")])


class TestEccentricity:
    def test_matches_python_bfs_max(self, spark):
        from collections import defaultdict, deque

        edges = [
            ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
            ("a", "c"),
            ("x", "y"),  # island: never reached from the sources
        ]
        sources = ["a", "e"]
        sym = set(edges) | {(b, a) for a, b in edges}
        nbrs = defaultdict(set)
        for a, b in sym:
            nbrs[a].add(b)
        exp = defaultdict(int)
        for s in sources:
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= 6:
                    continue
                for w in nbrs[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            for v, d in dist.items():
                exp[v] = max(exp[v], d)
        got = {
            r["id"]: r["ecc_lb"]
            for r in queries.eccentricity_sampled(
                _und_df(spark, edges), sources, max_hops=6, top_k=20
            ).collect()
        }
        assert got == dict(exp)
        assert "x" not in got
        # lower-bound property vs true eccentricity on the reached set
        assert got["c"] <= 2  # true ecc(c) = 2; bound cannot exceed it

    def test_hop_truncation_caps_the_bound(self, spark):
        chain = [(f"v{i}", f"v{i+1}") for i in range(8)]
        got = {
            r["id"]: r["ecc_lb"]
            for r in queries.eccentricity_sampled(
                _und_df(spark, chain), ["v0"], max_hops=3, top_k=50
            ).collect()
        }
        assert max(got.values()) == 3  # truncated at max_hops
        assert "v8" not in got  # beyond the horizon


class TestDistanceDistribution:
    @staticmethod
    def _py_oracle(edges, sources, max_hops, percentile):
        from collections import Counter, defaultdict, deque

        sym = set(edges) | {(b, a) for a, b in edges}
        nbrs = defaultdict(set)
        for a, b in sym:
            if a != b:
                nbrs[a].add(b)
        hist = Counter()
        for s in sorted(set(sources)):
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= max_hops:
                    continue
                for w in nbrs[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            for d in dist.values():
                if d > 0:
                    hist[d] += 1
        total = sum(hist.values())
        num = int(round(percentile * 1_000_000))
        rows, cum, prev = [], 0, 0
        for d in sorted(hist):
            cum += hist[d]
            flag = cum * 1_000_000 >= total * num and prev * 1_000_000 < total * num
            rows.append((d, hist[d], cum, round(cum / total, 6), flag))
            prev = cum
        return rows

    def _run(self, spark, edges, sources, max_hops=6, percentile=0.9):
        got = [
            (r["d"], r["n_pairs"], r["cum_pairs"], r["cum_frac"], r["eff_diameter"])
            for r in queries.distance_distribution(
                _und_df(spark, edges), sources, max_hops, percentile
            ).collect()
        ]
        assert got == self._py_oracle(edges, sources, max_hops, percentile)
        assert sum(r[4] for r in got) == 1  # exactly one effective-diameter row
        return got

    def test_chain_two_sources_matches_python(self, spark):
        edges = [(f"v{i}", f"v{i+1}") for i in range(8)] + [("x", "y")]
        got = self._run(spark, edges, ["v0", "v8"])
        assert {r[0] for r in got} == {1, 2, 3, 4, 5, 6}
        # island x-y never reached: 2 sources x 6 hops over a 9-chain
        assert sum(r[1] for r in got) == 12

    def test_star_effective_diameter_is_one(self, spark):
        edges = [("hub", f"l{i}") for i in range(9)]
        got = self._run(spark, edges, ["hub"])
        assert got == [(1, 9, 9, 1.0, True)]

    def test_percentile_moves_the_flag(self, spark):
        edges = [(f"v{i}", f"v{i+1}") for i in range(8)]
        # from v0 on a 9-chain: one pair per hop 1..6; median hop = 3
        got = self._run(spark, edges, ["v0"], percentile=0.5)
        assert [r[0] for r in got if r[4]] == [3]
        got90 = self._run(spark, edges, ["v0"], percentile=0.9)
        assert [r[0] for r in got90 if r[4]] == [6]


class TestSquaresCount:
    @staticmethod
    def _brute(edges, max_degree=None):
        """Independent oracle: enumerate every 4-subset and check the
        3 possible cycle arrangements edge-by-edge — no reuse of the
        diagonal-pair formula under test."""
        from collections import defaultdict
        from itertools import combinations

        sym = {tuple(e) for e in edges if e[0] != e[1]}
        sym |= {(b, a) for a, b in sym}
        nbrs = defaultdict(set)
        for a, b in sym:
            nbrs[a].add(b)
        nodes = sorted(nbrs)
        if max_degree is not None:
            keep = {v for v in nodes if len(nbrs[v]) <= max_degree}
            nodes = sorted(keep)
            nbrs = {v: nbrs[v] & keep for v in keep}
        has = lambda a, b: b in nbrs.get(a, ())
        n = 0
        for a, b, c, d in combinations(nodes, 4):
            for p, q, r, s in ((a, b, c, d), (a, b, d, c), (a, c, b, d)):
                if has(p, q) and has(q, r) and has(r, s) and has(s, p):
                    n += 1
        return n

    def _run(self, spark, edges, max_degree=None):
        row = queries.squares_count(
            _und_df(spark, edges), max_degree=max_degree
        ).collect()[0]
        assert row["n_squares"] == self._brute(edges, max_degree)
        return row

    def test_k4_single_square_and_square_free(self, spark):
        k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
        assert self._run(spark, k4)["n_squares"] == 3
        cyc = [("p", "q"), ("q", "r"), ("r", "s"), ("s", "p")]
        row = self._run(spark, cyc)
        assert (row["n_squares"], row["max_common"]) == (1, 2)
        tri = [("x", "y"), ("y", "z"), ("x", "z")]  # square-free
        assert self._run(spark, tri)["n_squares"] == 0

    def test_random_graph_matches_brute_force(self, spark):
        import random

        rng = random.Random(29)
        nodes = [f"n{i:02d}" for i in range(16)]
        edges = sorted(
            {tuple(sorted((rng.choice(nodes), rng.choice(nodes)))) for _ in range(60)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        self._run(spark, edges)
        self._run(spark, edges, max_degree=5)

    def test_degree_cap_removes_hub_cores(self, spark):
        # K2,3: C(2,2) * C(3,2) = 3 squares; capping at deg<=2 removes
        # the two deg-3 left nodes -> 0 squares (the documented
        # subgraph semantics, all four corners capped)
        k23 = [(l, r) for l in ("L1", "L2") for r in ("r1", "r2", "r3")]
        assert self._run(spark, k23)["n_squares"] == 3
        assert self._run(spark, k23, max_degree=2)["n_squares"] == 0


class TestBowtie:
    @staticmethod
    def _py_oracle(edges):
        """Independent replay: brute-force transitive closure, then
        the Broder set algebra."""
        nodes = sorted({v for e in edges for v in e if e[0] != e[1]})
        reach = {v: {v} for v in nodes}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                if a == b:
                    continue
                new = reach[a] | reach[b]
                if new != reach[a]:
                    reach[a] = new
                    changed = True
        sccs = {}
        for v in nodes:
            key = frozenset(u for u in reach[v] if v in reach[u])
            sccs[v] = key
        # largest SCC, ties by min member id (the engine's scc_id)
        core = sorted(set(sccs.values()), key=lambda s: (-len(s), min(s)))[0]
        rplus = {v for c in core for v in reach[c]}
        rminus = {v for v in nodes if reach[v] & core}
        inn = rminus - core
        out = rplus - core
        fwd_in = inn | {v for i in inn for v in reach[i]}
        back_out = out | {v for v in nodes if reach[v] & out}
        known = core | inn | out
        tubes = (fwd_in & back_out) - known
        tendrils = (fwd_in | back_out) - known - tubes
        disc = set(nodes) - known - fwd_in - back_out
        exp = {}
        for name, s in [
            ("CORE", core), ("IN", inn), ("OUT", out), ("TUBES", tubes),
            ("TENDRILS", tendrils), ("DISCONNECTED", disc),
        ]:
            if s:
                exp[name] = len(s)
        return exp

    def _run(self, spark, edges):
        df = spark.createDataFrame(edges, "src_id string, dst_id string")
        got = {
            r["component"]: r["n_nodes"] for r in queries.bowtie(df).collect()
        }
        assert got == self._py_oracle(edges)
        return got

    def test_all_six_classes(self, spark):
        edges = [
            ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),      # CORE 3-cycle
            ("i1", "i2"), ("i2", "a1"),                    # IN chain
            ("a2", "o1"), ("o1", "o2"),                    # OUT chain
            ("i2", "t1"), ("t1", "o1"),                    # TUBE bypassing core
            ("i1", "td1"),                                 # tendril off IN
            ("td2", "o2"),                                 # tendril into OUT
            ("d1", "d2"),                                  # disconnected pair
            ("b1", "b2"), ("b2", "b1"),                    # smaller rival SCC
        ]
        got = self._run(spark, edges)
        assert got == {
            "CORE": 3, "IN": 2, "OUT": 2, "TUBES": 1,
            "TENDRILS": 2, "DISCONNECTED": 4,
        }

    def test_pure_cycle_is_all_core(self, spark):
        cyc = [(f"v{i}", f"v{(i + 1) % 5}") for i in range(5)]
        assert self._run(spark, cyc) == {"CORE": 5}

    def test_dag_core_is_a_singleton(self, spark):
        # acyclic chain: every SCC is a singleton; the core is the
        # min-id node, the rest classify by reachability to/from it
        chain = [("a", "b"), ("b", "c"), ("c", "d")]
        got = self._run(spark, chain)
        assert got["CORE"] == 1 and sum(got.values()) == 4


class TestRichClub:
    @staticmethod
    def _py_oracle(edges, thresholds):
        from collections import defaultdict

        sym = {tuple(e) for e in edges if e[0] != e[1]}
        sym |= {(b, a) for a, b in sym}
        nbrs = defaultdict(set)
        for a, b in sym:
            nbrs[a].add(b)
        deg = {v: len(ns) for v, ns in nbrs.items()}
        und = {tuple(sorted((a, b))) for a, b in sym}
        out = []
        for k in thresholds:
            n = sum(1 for d in deg.values() if d > k)
            e = sum(1 for a, b in und if deg[a] > k and deg[b] > k)
            phi = round(2 * e / (n * (n - 1)), 6) if n >= 2 else None
            out.append((k, n, e, phi))
        return out

    def _run(self, spark, edges, thresholds=(1, 2, 4, 8, 16, 32, 64)):
        got = [
            (r["k"], r["n_nodes"], r["n_edges"], r["phi"])
            for r in queries.rich_club(_und_df(spark, edges), thresholds).collect()
        ]
        assert got == self._py_oracle(edges, thresholds)
        return dict((r[0], r[3]) for r in got)

    def test_clique_with_pendants_is_a_perfect_club(self, spark):
        # K4 core, one pendant leaf per core node: core deg 4, leaf 1
        k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
        pend = [(v, f"leaf_{v}") for v in "abcd"]
        phi = self._run(spark, k4 + pend, thresholds=(1, 3, 4))
        assert phi[1] == 1.0  # deg>1 = the K4 core, fully wired
        assert phi[3] == 1.0  # core deg = 4 > 3: still the full club
        assert phi[4] is None  # nobody exceeds deg 4: club undefined

    def test_star_has_no_club(self, spark):
        star = [("hub", f"l{i}") for i in range(5)]
        phi = self._run(spark, star, thresholds=(1, 2))
        assert phi[1] is None and phi[2] is None  # only the hub qualifies

    def test_random_graph_matches_python(self, spark):
        import random

        rng = random.Random(41)
        nodes = [f"n{i:02d}" for i in range(24)]
        edges = sorted(
            {tuple(sorted((rng.choice(nodes), rng.choice(nodes)))) for _ in range(90)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        self._run(spark, edges, thresholds=(0, 1, 2, 3, 5, 8))


class TestSccEdgeCases:
    def test_empty_and_self_loop_inputs(self, spark):
        empty = spark.createDataFrame([], "src_id string, dst_id string")
        assert queries.scc(empty).count() == 0
        loops = spark.createDataFrame(
            [("a", "a"), ("b", "b")], "src_id string, dst_id string"
        )
        assert queries.scc(loops).count() == 0  # loop-only nodes are caller's

    def test_long_cycle_converges_or_raises_loudly(self, spark):
        import pytest as _pytest

        cyc = [(f"v{i:02d}", f"v{(i + 1) % 30:02d}") for i in range(30)]
        df = spark.createDataFrame(cyc, "src_id string, dst_id string")
        # a 30-cycle needs ~30 color rounds: with a starved cap the
        # function must RAISE, never return a wrong split
        with _pytest.raises(ValueError, match="fixpoint"):
            queries.scc(df, max_prop=5)
        got = {r["scc_id"] for r in queries.scc(df).collect()}
        assert got == {"v00"}  # one SCC, min-id representative


class TestWlLabels:
    """queries.wl_labels — 1-WL color refinement."""

    def _und(self, spark, edges):
        both = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        return spark.createDataFrame(both, "cid string, nbr_id string")

    def _labels(self, spark, edges, **kw):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans.queries import wl_labels

        return {r.id: r.wl_label for r in wl_labels(self._und(spark, edges), **kw).collect()}

    def test_path_refinement_classes(self, spark):
        # P4: a-b-c-d.  Round 0 splits by degree {a,d} vs {b,c}; WL
        # keeps refining: after 3 rounds ends share a class, middles
        # share a class, and the two classes differ.
        lab = self._labels(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        assert lab["a"] == lab["d"] and lab["b"] == lab["c"]
        assert lab["a"] != lab["b"]

    def test_regular_graphs_are_wl_blind(self, spark):
        # classic 1-WL limit: C6 and 2xC3 are both 2-regular, so EVERY
        # node in both graphs gets the same color forever
        c6 = [("u%d" % i, "u%d" % ((i + 1) % 6)) for i in range(6)]
        tri2 = [("x0", "x1"), ("x1", "x2"), ("x2", "x0"),
                ("y0", "y1"), ("y1", "y2"), ("y2", "y0")]
        lab = self._labels(spark, c6 + tri2)
        assert len(set(lab.values())) == 1

    def test_isomorphic_components_get_identical_label_multisets(self, spark):
        star_a = [("ca", "la%d" % i) for i in range(4)]
        star_b = [("cb", "lb%d" % i) for i in range(4)]
        lab = self._labels(spark, star_a + star_b)
        assert lab["ca"] == lab["cb"]
        assert lab["la0"] == lab["lb3"]
        assert lab["ca"] != lab["la0"]  # hub vs leaf split

    def test_sum_and_sort_agree(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "e"),
                 ("e", "f"), ("f", "a"), ("c", "f")]
        s1 = self._labels(spark, edges, combine="sum")
        s2 = self._labels(spark, edges, combine="sort")
        # labels differ in value (different hash inputs) but induce the
        # SAME partition of the nodes
        import collections

        def parts(lab):
            g = collections.defaultdict(set)
            for n, le in lab.items():
                g[le].add(n)
            return sorted(map(frozenset, g.values()), key=sorted)

        assert parts(s1) == parts(s2)

    def test_matches_pure_python_wl(self, spark):
        import hashlib

        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
        adj = {}
        for x, y in edges:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        lab = {n: str(len(ns)) for n, ns in adj.items()}
        for _ in range(3):
            def m32(s):
                return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            nxt = {}
            for n in adj:
                s = sum(m32(lab[v]) for v in adj[n])
                nxt[n] = hashlib.md5(f"{lab[n]}|{s}".encode()).hexdigest()[:16]
            lab = nxt
        got = self._labels(spark, edges, combine="sum")
        assert got == lab


def _py_densest(edges, eps=1.0, max_rounds=10):
    from collections import Counter

    cur = set(edges) | {(b, a) for a, b in edges}
    best_nodes, best_rho = None, -1.0
    for r in range(max_rounds + 1):
        nodes = {a for a, _ in cur}
        ne2, nv = len(cur), len(nodes)
        if nv == 0:
            break
        rho = float(ne2) / (2.0 * nv)
        if rho > best_rho:
            best_rho, best_nodes = rho, set(nodes)
        if r == max_rounds:
            break
        deg = Counter(a for a, _ in cur)
        thresh = (1.0 + eps) * float(ne2) / float(nv)
        keep = {n for n, d in deg.items() if d > thresh}
        cur = {(a, b) for a, b in cur if a in keep and b in keep}
    return best_nodes, round(best_rho, 6)


class TestDensestSubgraph:
    def _check(self, spark, edges, eps=1.0):
        got = queries.densest_subgraph(_und_df(spark, edges), eps=eps).collect()
        want_nodes, want_rho = _py_densest(edges, eps=eps)
        assert {r["concept_id"] for r in got} == want_nodes
        assert all(abs(r["density"] - want_rho) < 1e-9 for r in got)

    def test_planted_clique_isolated(self, spark):
        # K6 clique + a long sparse path: peeling must strip the path
        # and return exactly the clique at density (6*5/2)/6 = 2.5
        clique = [(f"c{i}", f"c{j}") for i in range(6) for j in range(i + 1, 6)]
        tail = [(f"p{i}", f"p{i+1}") for i in range(20)] + [("p0", "c0")]
        got = queries.densest_subgraph(
            _und_df(spark, clique + tail), eps=0.1
        ).collect()
        assert {r["concept_id"] for r in got} == {f"c{i}" for i in range(6)}
        assert got[0]["density"] == 2.5
        self._check(spark, clique + tail, eps=0.1)
        # eps=1 peels more aggressively: the guarantee (not clique
        # isolation) is what survives — replay-exact either way
        self._check(spark, clique + tail, eps=1.0)

    def test_matches_python_on_random_graph(self, spark):
        import random

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(40)]
        edges = list(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(120)
            }
        )
        self._check(spark, edges)
        self._check(spark, edges, eps=0.5)

    def test_regular_graph_round_zero(self, spark):
        # a cycle is 2-regular: round 0 has density 1, every node's
        # degree 2 <= threshold 2*(1+eps)*1 -> all peel at once; the
        # best iterate is the full cycle itself
        cyc = [(f"v{i}", f"v{(i+1) % 8}") for i in range(8)]
        got = queries.densest_subgraph(_und_df(spark, cyc)).collect()
        assert {r["concept_id"] for r in got} == {f"v{i}" for i in range(8)}
        assert got[0]["density"] == 1.0

    def test_approximation_guarantee(self, spark):
        # best iterate density >= opt / (2(1+eps)); opt here is the
        # K6 clique's 2.5
        clique = [(f"c{i}", f"c{j}") for i in range(6) for j in range(i + 1, 6)]
        extra = [(f"c{i}", f"x{i}{k}") for i in range(6) for k in range(2)]
        got = queries.densest_subgraph(_und_df(spark, clique + extra)).collect()
        assert got[0]["density"] >= 2.5 / 4.0
        self._check(spark, clique + extra)


class TestSpanningForest:
    @staticmethod
    def _kruskal(edges, mode="max"):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        sign = -1 if mode == "max" else 1
        sel = []
        for a, b, w in sorted(edges, key=lambda t: (sign * t[2], t[0], t[1])):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
                sel.append((a, b, w))
        return sorted(sel)

    def _rand_graph(self, seed, n=14, m=30):
        import hashlib

        edges = set()
        for i in range(m):
            h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
            a, b = int(h[:4], 16) % n, int(h[4:8], 16) % n
            if a == b:
                continue
            a, b = min(a, b), max(a, b)
            edges.add((f"n{a:02d}", f"n{b:02d}", int(h[8:10], 16) % 9 + 1))
        return sorted(edges)

    def test_kruskal_parity_random_graphs(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        for seed in (1, 2, 3):
            edges = self._rand_graph(seed)
            df = spark.createDataFrame(edges, "a_id string, b_id string, w long")
            for mode in ("max", "min"):
                got = sorted(
                    tuple(r)
                    for r in q.spanning_forest(df, weight_col="w", mode=mode).collect()
                )
                assert got == self._kruskal(edges, mode), (seed, mode)

    def test_forest_size_equals_nodes_minus_components(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        edges = self._rand_graph(7, n=20, m=18)  # sparse -> several comps
        df = spark.createDataFrame(edges, "a_id string, b_id string, w long")
        out = [tuple(r) for r in q.spanning_forest(df, weight_col="w").collect()]
        nodes = {x for e in edges for x in e[:2]}
        # component count via python union-find over ALL edges
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, _ in edges:
            parent[find(a)] = find(b)
        n_comp = len({find(x) for x in nodes})
        assert len(out) == len(nodes) - n_comp
        # and the forest is acyclic: union-find over forest edges only
        parent.clear()
        for a, b, _ in out:
            ra, rb = find(a), find(b)
            assert ra != rb, "cycle in forest"
            parent[ra] = rb

    def test_unweighted_defaults_to_unit_weights(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        df = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c")], "a_id string, b_id string"
        )
        got = sorted(tuple(r) for r in q.spanning_forest(df).collect())
        # unit weights -> lexicographic Kruskal keeps (a,b) and (a,c)
        assert got == [("a", "b", 1), ("a", "c", 1)]


class TestGraphColoring:
    @staticmethod
    def _jp_reference(edges):
        """Pure-python Jones-Plassmann with md5 priorities — the exact
        semantics of queries.graph_coloring."""
        import hashlib

        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        pr = {v: hashlib.md5(v.encode()).hexdigest() for v in adj}
        color, unc = {}, set(adj)
        while unc:
            winners = [
                v
                for v in unc
                if all(pr[v] > pr[u] for u in adj[v] if u in unc)
            ]
            assert winners, "stuck"
            for v in winners:
                used = sorted({color[u] for u in adj[v] if u in color})
                c = 0
                for x in used:
                    if x == c:
                        c += 1
                color[v] = c
            unc -= set(winners)
        return color

    def _und(self, spark, edges):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(list(edges), "cid string, nbr_id string")
        return df.unionByName(
            df.select(F.col("nbr_id").alias("cid"), F.col("cid").alias("nbr_id"))
        )

    def test_reference_parity_random_graphs(self, spark):
        import hashlib

        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        for seed in (11, 12):
            edges = set()
            for i in range(40):
                h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
                a, b = int(h[:4], 16) % 16, int(h[4:8], 16) % 16
                if a != b:
                    edges.add((f"v{min(a,b):02d}", f"v{max(a,b):02d}"))
            got = {
                r.id: r.color
                for r in q.graph_coloring(self._und(spark, edges)).collect()
            }
            assert got == self._jp_reference(edges), seed

    def test_clique_is_sequential_but_proper(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        nodes = [f"k{i}" for i in range(6)]
        edges = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
        got = {r.id: r.color for r in q.graph_coloring(self._und(spark, edges)).collect()}
        # a 6-clique needs exactly colors 0..5, one per node
        assert sorted(got.values()) == list(range(6))

    def test_budget_raises_loudly(self, spark):
        import pytest

        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        nodes = [f"k{i}" for i in range(6)]
        edges = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
        with pytest.raises(RuntimeError, match="rounds exhausted"):
            q.graph_coloring(self._und(spark, edges), max_rounds=3)


class TestMaximalMatching:
    @staticmethod
    def _greedy(edges, seed="mm"):
        import hashlib

        order = sorted(
            edges,
            key=lambda t: hashlib.md5(f"{seed}|{t[0]}|{t[1]}".encode()).hexdigest(),
        )
        used, sel = set(), []
        for a, b in order:
            if a not in used and b not in used:
                used.update((a, b))
                sel.append((a, b))
        return sorted(sel)

    def _rand_edges(self, seed, n=18, m=40):
        import hashlib

        edges = set()
        for i in range(m):
            h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
            a, b = int(h[:4], 16) % n, int(h[4:8], 16) % n
            if a != b:
                edges.add((f"m{min(a,b):02d}", f"m{max(a,b):02d}"))
        return sorted(edges)

    def test_greedy_parity_random_graphs(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        for seed in (21, 22, 23):
            edges = self._rand_edges(seed)
            df = spark.createDataFrame(edges, "a_id string, b_id string")
            got = sorted(tuple(r) for r in q.maximal_matching(df).collect())
            assert got == self._greedy(edges), seed

    def test_matching_properties(self, spark):
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        edges = self._rand_edges(24, n=24, m=60)
        df = spark.createDataFrame(edges, "a_id string, b_id string")
        got = [tuple(r) for r in q.maximal_matching(df).collect()]
        # node-disjoint
        nodes = [x for e in got for x in e]
        assert len(nodes) == len(set(nodes))
        # maximal: every unmatched edge touches a matched node
        ns = set(nodes)
        for a, b in edges:
            if (a, b) not in set(got):
                assert a in ns or b in ns

    def test_path_chain_dependency(self, spark):
        # a path graph exercises the sequential-dependency worst case
        from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q

        edges = [(f"p{i:02d}", f"p{i+1:02d}") for i in range(12)]
        df = spark.createDataFrame(edges, "a_id string, b_id string")
        got = sorted(tuple(r) for r in q.maximal_matching(df).collect())
        assert got == self._greedy(edges)


def _np_assortativity(edges):
    sym = set(edges) | {(b, a) for a, b in edges}
    sym = {(a, b) for a, b in sym if a != b}
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    j = np.array([deg[a] for a, b in sym], dtype=float)
    k = np.array([deg[b] for a, b in sym], dtype=float)
    m = len(sym)
    num = (j * k).mean() - ((j + k) / 2).mean() ** 2
    den = ((j * j + k * k) / 2).mean() - ((j + k) / 2).mean() ** 2
    return num / den, m // 2, len(deg)


class TestDegreeAssortativity:
    def test_matches_numpy_oracle(self, spark):
        row = queries.degree_assortativity(_und_df(spark, EDGES)).collect()[0]
        want_r, want_e, want_n = _np_assortativity(EDGES)
        assert row["n_nodes"] == want_n
        assert row["n_edges"] == want_e
        assert abs(row["r"] - round(want_r, 6)) < 1e-9

    def test_star_is_maximally_disassortative(self, spark):
        star = [("hub", f"leaf{i}") for i in range(5)]
        row = queries.degree_assortativity(_und_df(spark, star)).collect()[0]
        assert row["r"] == -1.0

    def test_balanced_double_star_is_assortative_vs_star(self, spark):
        # two hubs joined to each other, each with its own leaves:
        # hub-hub stub pulls r up relative to the pure star
        dbl = [("h1", "h2")] + [("h1", f"a{i}") for i in range(3)] + [
            ("h2", f"b{i}") for i in range(3)
        ]
        r_dbl = queries.degree_assortativity(_und_df(spark, dbl)).collect()[0]["r"]
        star = [("hub", f"leaf{i}") for i in range(5)]
        r_star = queries.degree_assortativity(_und_df(spark, star)).collect()[0]["r"]
        assert r_dbl > r_star

    def test_random_graph_matches_numpy(self, spark):
        import random

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(20)]
        edges = list({
            (a, b)
            for a, b in (
                tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)
            )
        })
        row = queries.degree_assortativity(_und_df(spark, edges)).collect()[0]
        want_r, want_e, want_n = _np_assortativity(edges)
        assert row["n_edges"] == want_e and row["n_nodes"] == want_n
        assert abs(row["r"] - round(want_r, 6)) < 1e-9


def _np_katz(edges, alpha=0.1, beta=1.0, iters=8):
    dedges = sorted(set(edges))
    nodes = sorted({a for a, _ in dedges} | {b for _, b in dedges})
    idx = {v: i for i, v in enumerate(nodes)}
    x = np.full(len(nodes), beta)
    for _ in range(iters):
        inflow = np.zeros(len(nodes))
        for a, b in dedges:
            inflow[idx[b]] += x[idx[a]]
        x = beta + alpha * inflow
    return {v: x[idx[v]] for v in nodes}


def _dir_df(spark, edges):
    return spark.createDataFrame(edges, "src_id string, dst_id string")


class TestKatzCentrality:
    DIR_EDGES = [
        ("a", "b"), ("c", "b"), ("d", "b"), ("b", "e"), ("e", "f"),
        ("f", "e"), ("a", "e"), ("d", "a"),
    ]

    def test_matches_numpy_oracle(self, spark):
        got = {
            r["id"]: r["katz"]
            for r in queries.katz_centrality(
                _dir_df(spark, self.DIR_EDGES), top_k=100
            ).collect()
        }
        want = _np_katz(self.DIR_EDGES)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - round(want[v], 6)) < 1e-9, v

    def test_indirect_support_counts(self, spark):
        # chain x->y->z: z gets alpha*beta from y AND alpha^2*beta via x
        got = {
            r["id"]: r["katz"]
            for r in queries.katz_centrality(
                _dir_df(spark, [("x", "y"), ("y", "z")]), iters=8, top_k=10
            ).collect()
        }
        assert abs(got["y"] - (1 + 0.1)) < 1e-9
        assert abs(got["z"] - (1 + 0.1 + 0.1 ** 2)) < 1e-9
        assert got["x"] == 1.0

    def test_direction_matters(self, spark):
        got = {
            r["id"]: r["katz"]
            for r in queries.katz_centrality(
                _dir_df(spark, [("a", "b")] * 3 + [("c", "b"), ("d", "b")]), top_k=10
            ).collect()
        }
        # b collects from 3 distinct in-neighbors; sources stay at beta
        assert got["b"] > got["a"] == got["c"] == got["d"] == 1.0

    def test_truncation_semantics(self, spark):
        # iters=1 is exactly beta + alpha * in_degree
        got = {
            r["id"]: r["katz"]
            for r in queries.katz_centrality(
                _dir_df(spark, self.DIR_EDGES), iters=1, top_k=100
            ).collect()
        }
        indeg = {}
        for _, b in set(self.DIR_EDGES):
            indeg[b] = indeg.get(b, 0) + 1
        for v, s in got.items():
            assert abs(s - (1.0 + 0.1 * indeg.get(v, 0))) < 1e-9


class TestVertexCover:
    def _check_cover(self, edges, cover):
        for a, b in edges:
            assert a in cover or b in cover, (a, b)

    def test_is_cover_and_2approx(self, spark):
        import random

        rng = random.Random(13)
        nodes = [f"n{i}" for i in range(24)]
        edges = sorted({
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)
        })
        df = spark.createDataFrame(edges, "a_id string, b_id string")
        cover = {r["id"] for r in queries.vertex_cover(df).collect()}
        self._check_cover(edges, cover)
        # |cover| = 2|M| and any cover >= |M|, so vs the LP bound:
        m = queries.maximal_matching(df).count()
        assert len(cover) == 2 * m

    def test_star_cover_is_hub_pair(self, spark):
        star = [("hub", f"leaf{i}") for i in range(6)]
        df = spark.createDataFrame(star, "a_id string, b_id string")
        cover = {r["id"] for r in queries.vertex_cover(df).collect()}
        # matching picks exactly one hub edge -> cover = hub + one leaf
        assert "hub" in cover and len(cover) == 2
        self._check_cover(star, cover)


def _py_label_spreading(edges, seeds, iters=5):
    sym = set(edges) | {(b, a) for a, b in edges}
    adj = {}
    for x, y in sym:
        if x != y:
            adj.setdefault(x, set()).add(y)
    labs = {i: (l, 0) for i, l in seeds.items()}
    for k in range(1, iters + 1):
        votes = {}
        for n, nbrs in adj.items():
            if n in labs:
                continue
            cnt = {}
            for nb in nbrs:
                if nb in labs:
                    lab = labs[nb][0]
                    cnt[lab] = cnt.get(lab, 0) + 1
            if cnt:
                votes[n] = min((-c, l) for l, c in cnt.items())[1]
        for n, l in votes.items():
            labs[n] = (l, k)
    return labs


class TestLabelSpreading:
    def test_matches_python_oracle(self, spark):
        import random

        rng = random.Random(21)
        nodes = [f"n{i}" for i in range(30)]
        edges = sorted({
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(55)
        })
        seeds = {"n0": "A", "n7": "B", "n15": "C"}
        sdf = spark.createDataFrame(list(seeds.items()), "id string, label string")
        got = {
            r["id"]: (r["label"], r["round"])
            for r in queries.label_spreading(_und_df(spark, edges), sdf, iters=5).collect()
        }
        want = _py_label_spreading(edges, seeds, iters=5)
        assert got == want

    def test_seeds_clamped_and_monotone(self, spark):
        # a seed surrounded by opposing labels keeps its own
        edges = [("s", "x"), ("x", "t1"), ("x", "t2"), ("x", "t3")]
        seeds = [("s", "RED"), ("t1", "BLU"), ("t2", "BLU"), ("t3", "BLU")]
        sdf = spark.createDataFrame(seeds, "id string, label string")
        got = {
            r["id"]: (r["label"], r["round"])
            for r in queries.label_spreading(_und_df(spark, edges), sdf, iters=4).collect()
        }
        assert got["s"] == ("RED", 0)
        # x has 3 BLU neighbors vs 1 RED -> majority BLU at round 1
        assert got["x"] == ("BLU", 1)

    def test_round_is_bfs_distance(self, spark):
        chain = [("a", "b"), ("b", "c"), ("c", "d")]
        sdf = spark.createDataFrame([("a", "L")], "id string, label string")
        got = {
            r["id"]: r["round"]
            for r in queries.label_spreading(_und_df(spark, chain), sdf, iters=5).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}


class TestReciprocity:
    def test_values(self, spark):
        edges = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("d", "c"), ("e", "e")]
        df = spark.createDataFrame(edges, "src_id string, dst_id string")
        row = queries.reciprocity(df).collect()[0]
        # self-loop dropped; 5 directed edges, 4 reciprocal
        assert row["n_edges"] == 5 and row["n_reciprocal"] == 4
        assert row["reciprocity"] == 0.8

    def test_dag_is_zero(self, spark):
        edges = [("a", "b"), ("b", "c"), ("a", "c")]
        df = spark.createDataFrame(edges, "src_id string, dst_id string")
        row = queries.reciprocity(df).collect()[0]
        assert row["n_reciprocal"] == 0 and row["reciprocity"] == 0.0


class TestDegreeCentralization:
    def test_star_is_one(self, spark):
        star = [("hub", f"l{i}") for i in range(6)]
        row = queries.degree_centralization(_und_df(spark, star)).collect()[0]
        assert row["centralization"] == 1.0 and row["max_degree"] == 6

    def test_cycle_is_zero(self, spark):
        cyc = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]
        row = queries.degree_centralization(_und_df(spark, cyc)).collect()[0]
        assert row["centralization"] == 0.0

    def test_matches_formula(self, spark):
        row = queries.degree_centralization(_und_df(spark, EDGES)).collect()[0]
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        deg = {}
        for a, _ in sym:
            deg[a] = deg.get(a, 0) + 1
        n, mx = len(deg), max(deg.values())
        want = sum(mx - d for d in deg.values()) / ((n - 1) * (n - 2))
        assert abs(row["centralization"] - round(want, 6)) < 1e-9


class TestTaxonomyLayers:
    def _lay(self, spark, edges, depth=4):
        rows = queries.taxonomy_layers(_isa_df(spark, edges), max_depth=depth).collect()
        return {r["id"]: (r["layer"], r["n_parents"], r["is_root"]) for r in rows}

    def test_chain_levels(self, spark):
        # d is the root (no parent); a sits 3 levels below it
        got = self._lay(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        assert got == {
            "d": (0, 0, True), "c": (1, 1, False),
            "b": (2, 1, False), "a": (3, 1, False),
        }

    def test_diamond_takes_longest_chain(self, spark):
        # a -> b -> d, a -> d direct: layer(a) = 2 (longest), not 1
        got = self._lay(spark, [("a", "b"), ("b", "d"), ("a", "d")])
        assert got["d"][0] == 0 and got["b"][0] == 1
        assert got["a"] == (2, 2, False)

    def test_forest_and_depth_cap(self, spark):
        # two independent trees; a 6-chain capped at depth 4
        chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
        got = self._lay(spark, chain + [("x", "y")], depth=4)
        assert got["y"] == (0, 0, True) and got["x"][0] == 1
        assert got["n6"][0] == 0
        assert got["n0"][0] == 4  # true level 6, capped at max_depth
        # uncapped when depth covers the chain
        full = self._lay(spark, chain, depth=6)
        assert full["n0"][0] == 6


class TestSparsifyEdges:
    def _py_replay(self, edges, c=4.0):
        """Exact pure-python replay of the md5 coin + accept rule."""
        import hashlib
        import math
        from collections import Counter

        adj = set()
        for a, b in edges:
            if a != b:
                adj.add((a, b))
                adj.add((b, a))
        deg = Counter(a for a, _ in adj)
        und = {(min(a, b), max(a, b)) for a, b in adj}
        kept = {}
        for a, b in sorted(und):
            p = min(1.0, c / math.sqrt(deg[a] * deg[b]))
            h = int(hashlib.md5(f"sp|{a}|{b}".encode()).hexdigest()[:8], 16)
            if (h + 0.5) / 4294967296.0 < p:
                kept[(a, b)] = (round(p, 6), round(1.0 / p, 6))
        return kept

    def _und(self, spark, edges):
        rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        return spark.createDataFrame(rows, "cid string, nbr_id string")

    def test_matches_python_replay_and_keeps_sparse_structure(self, spark):
        # K8 hub mesh (deg 7 each: p = 4/7 < 1, thinned) + a path of
        # low-degree nodes (p = 1: kept verbatim, weight 1)
        clique = [(f"h{i}", f"h{j}") for i in range(8) for j in range(i + 1, 8)]
        path = [(f"p{i}", f"p{i+1}") for i in range(5)]
        edges = clique + path + [("h0", "p0")]
        got = {
            (r["a_id"], r["b_id"]): (r["p"], r["weight"])
            for r in queries.sparsify_edges(self._und(spark, edges), c=4.0).collect()
        }
        assert got == self._py_replay(edges, c=4.0)
        for a, b in path:
            key = (min(a, b), max(a, b))
            assert got[key] == (1.0, 1.0)  # low-degree structure intact
        clique_kept = [k for k in got if k[0].startswith("h") and k[1].startswith("h")]
        assert len(clique_kept) < len(clique)  # the hub mesh thinned

    def test_deterministic_across_runs(self, spark):
        edges = [(f"n{i}", f"n{(i * 7 + 1) % 30}") for i in range(60)]
        und = self._und(spark, edges)
        a = [tuple(r) for r in queries.sparsify_edges(und, c=2.0).collect()]
        b = [tuple(r) for r in queries.sparsify_edges(und, c=2.0).collect()]
        assert a == b and len(a) > 0

    def test_weight_corrects_expected_degree(self, spark):
        # inverse-probability weighting: the weighted degree of a hub
        # is an unbiased estimator of the true degree.  The md5 coin is
        # a FIXED deterministic draw, so this pins that the one draw we
        # get sits inside a 2-sigma band (p~0.14 -> sd ~ 20 here), not
        # that the estimator is tight
        hub_edges = [("hub", f"leaf{i}") for i in range(64)] + [
            (f"leaf{i}", f"leaf{(i+1)%64}") for i in range(64)
        ]
        got = queries.sparsify_edges(self._und(spark, hub_edges), c=2.0).collect()
        wdeg = sum(
            r["weight"] for r in got if "hub" in (r["a_id"], r["b_id"])
        )
        assert 64 * 0.4 <= wdeg <= 64 * 1.6


class TestDagPathCounts:
    def _run(self, spark, edges, depth=4):
        rows = queries.dag_path_counts(_isa_df(spark, edges), max_depth=depth).collect()
        return {(r["desc_id"], r["anc_id"]): (r["n_paths"], r["min_depth"]) for r in rows}

    def test_diamond_multiplicity(self, spark):
        # a->b->d, a->c->d, a->d: three distinct paths a~>d
        got = self._run(
            spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("a", "d")]
        )
        assert got[("a", "d")] == (3, 1)   # shortcut gives min_depth 1
        assert got[("a", "b")] == (1, 1)
        assert got[("b", "d")] == (1, 1)

    def test_stacked_diamonds_multiply(self, spark):
        # two diamonds in series: 2 * 2 = 4 paths end to end
        edges = [("s", "m1"), ("s", "m2"), ("m1", "t"), ("m2", "t"),
                 ("t", "n1"), ("t", "n2"), ("n1", "u"), ("n2", "u")]
        got = self._run(spark, edges, depth=4)
        assert got[("s", "u")] == (4, 4)
        assert got[("s", "t")] == (2, 2)
        assert got[("t", "u")] == (2, 2)

    def test_depth_bound_truncates(self, spark):
        chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
        got = self._run(spark, chain, depth=4)
        assert ("n0", "n4") in got and ("n0", "n5") not in got
        got6 = self._run(spark, chain, depth=6)
        assert got6[("n0", "n6")] == (1, 6)


class TestEgonetAnomaly:
    def _und(self, spark, edges):
        rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        return spark.createDataFrame(rows, "cid string, nbr_id string")

    def _py_ref(self, edges, threshold=1.0):
        """Textbook replay: E_u = d_u + tri_u, log-log OLS with the
        same round-8 coefficient contract."""
        import math
        from collections import Counter
        from itertools import combinations

        adj = {}
        for a, b in edges:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        per = {}
        for u, ns in adj.items():
            tri = sum(1 for x, y in combinations(sorted(ns), 2) if y in adj.get(x, ()))
            per[u] = (len(ns), len(ns) + tri)
        xs = [math.log(d) for d, _ in per.values()]
        ys = [math.log(e) for _, e in per.values()]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        den = n * sxx - sx * sx
        a = round((n * sxy - sx * sy) / den, 8) if den > 0 else 0.0
        b = round((sy - a * sx) / n, 8) if n > 0 else 0.0
        out = {}
        for u, (d, e) in per.items():
            exp = b + a * math.log(d)
            r = abs(math.log(e) - exp)
            out[u] = (d, e, round(exp, 6), round(r, 6), r > threshold)
        return out

    def test_matches_python_replay(self, spark):
        # mixed structure: a 5-clique, a 6-star, and a path
        edges = (
            [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
            + [("hub", f"s{i}") for i in range(6)]
            + [(f"p{i}", f"p{i+1}") for i in range(4)]
        )
        got = {
            r["id"]: (r["degree"], r["ego_edges"], r["expected_ln"],
                      r["residual"], r["is_anomalous"])
            for r in queries.egonet_anomaly(self._und(spark, edges)).collect()
        }
        want = self._py_ref(edges)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0] and got[k][1] == want[k][1], k
            assert abs(got[k][2] - want[k][2]) < 2e-6, k
            assert abs(got[k][3] - want[k][3]) < 2e-6, k

    def test_clique_member_beats_path_node(self, spark):
        # clique members sit far ABOVE the line fitted to a long path
        edges = [(f"p{i}", f"p{i+1}") for i in range(20)] + [
            (f"k{i}", f"k{j}") for i in range(6) for j in range(i + 1, 6)
        ]
        got = {r["id"]: r["residual"]
               for r in queries.egonet_anomaly(self._und(spark, edges)).collect()}
        assert got["k0"] > got["p5"]


class TestRelatedChunks:
    def _m(self, spark, pairs):
        return spark.createDataFrame(pairs, "chunk_id string, concept_id string")

    def test_shared_jaccard_and_guards(self, spark):
        m = [
            # c1/c2 share x,y,z; c1 has w extra -> jaccard 3/(4+3-3)=0.75
            ("c1", "x"), ("c1", "y"), ("c1", "z"), ("c1", "w"),
            ("c2", "x"), ("c2", "y"), ("c2", "z"),
            # c3 shares only x with c1 -> below min_shared, no pair
            ("c3", "x"), ("c3", "q"),
            # viral concept v in every chunk -> guarded out entirely
            ("c1", "v"), ("c2", "v"), ("c3", "v"), ("c4", "v"), ("c5", "v"),
        ]
        got = {
            (r["chunk_a"], r["chunk_b"]): (r["shared"], r["na"], r["nb"], r["jaccard"])
            for r in queries.related_chunks(
                self._m(spark, m), max_spread=4, min_shared=2, top_k=10
            ).collect()
        }
        assert got == {("c1", "c2"): (3, 4, 3, 0.75)}

    def test_duplicate_mentions_collapse(self, spark):
        # repeated (chunk, concept) mention rows count once
        m = [("a", "x"), ("a", "x"), ("b", "x"), ("a", "y"), ("b", "y"), ("b", "y")]
        got = queries.related_chunks(
            self._m(spark, m), max_spread=10, min_shared=2, top_k=10
        ).collect()
        assert len(got) == 1
        assert (got[0]["shared"], got[0]["na"], got[0]["nb"]) == (2, 2, 2)
        assert got[0]["jaccard"] == 1.0


class TestSpamMass:
    def _und(self, spark, edges):
        rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        return spark.createDataFrame(rows, "cid string, nbr_id string")

    def _np_ref(self, edges, trusted, iters=10, d=0.85):
        """Exact joint power-iteration replay."""
        adj = {}
        for a, b in edges:
            if a != b:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        ids = sorted(adj)
        present = sorted(set(trusted) & set(ids))
        n, k = len(ids), len(present)
        pr = {u: 1.0 / n for u in ids}
        tp = {u: (1.0 / k if u in present else 0.0) for u in ids}
        tr = dict(tp)
        base = (1.0 - d) / n
        for _ in range(iters):
            ia = {u: 0.0 for u in ids}
            ib = {u: 0.0 for u in ids}
            for u in ids:
                du = len(adj[u])
                for v in adj[u]:
                    ia[v] += pr[u] / du
                    ib[v] += tr[u] / du
            pr = {u: base + d * ia[u] for u in ids}
            tr = {u: (1.0 - d) * tp[u] + d * ib[u] for u in ids}
        return {
            u: (round(pr[u], 8), round(tr[u], 8), round((pr[u] - tr[u]) / pr[u], 6))
            for u in ids
        }

    def _fixture(self):
        # trusted hub cluster, a legit neighborhood, and a spam clique
        # hanging off a long thin path (far from trust)
        edges = [("t0", "t1"), ("t0", "l0"), ("t1", "l1"), ("l0", "l1")]
        edges += [("l1", "p0"), ("p0", "p1"), ("p1", "p2"), ("p2", "s0")]
        edges += [(f"s{i}", f"s{j}") for i in range(4) for j in range(i + 1, 4)]
        return edges

    def test_matches_numpy_replay(self, spark):
        edges = self._fixture()
        got = {
            r["id"]: (r["pagerank"], r["trustrank"], r["spam_mass"])
            for r in queries.spam_mass(
                self._und(spark, edges), ["t0", "t1"], iters=10
            ).collect()
        }
        want = self._np_ref(edges, ["t0", "t1"])
        assert set(got) == set(want)
        for u in want:
            assert abs(got[u][0] - want[u][0]) < 2e-8, u
            assert abs(got[u][1] - want[u][1]) < 2e-8, u
            assert abs(got[u][2] - want[u][2]) < 2e-5, u

    def test_spam_clique_scores_above_legit(self, spark):
        got = {
            r["id"]: (r["spam_mass"], r["is_trusted"])
            for r in queries.spam_mass(
                self._und(spark, self._fixture()), ["t0", "t1"], iters=10
            ).collect()
        }
        assert got["t0"][1] and not got["s0"][1]
        # the far spam clique keeps most of its rank unaccounted by trust
        assert got["s1"][0] > got["l0"][0]
        assert got["s1"][0] > 0.5
        # trusted nodes hold more trustrank than pagerank -> mass <= 0
        assert got["t0"][0] <= 0

    def test_missing_seeds_raise(self, spark):
        import pytest as _pt
        with _pt.raises(ValueError):
            queries.spam_mass(
                self._und(spark, [("a", "b")]), ["zz"], iters=2
            )


class TestTypedDegrees:
    def test_hand_profile(self, spark):
        t = spark.createDataFrame(
            [
                ("a", "is_a", "b"), ("a", "is_a", "c"), ("a", "causes", "b"),
                ("b", "part_of", "c"), ("d", "related_to", "a"),
            ],
            "subj_id string, predicate string, obj_id string",
        )
        got = {r["id"]: r.asDict() for r in queries.typed_degrees(t).collect()}
        assert got["a"]["out_is_a"] == 2 and got["a"]["out_causes"] == 1
        assert got["a"]["out_total"] == 3 and got["a"]["in_related"] == 1
        assert got["b"]["in_is_a"] == 1 and got["b"]["in_causes"] == 1
        assert got["b"]["out_part_of"] == 1
        assert got["d"]["out_related"] == 1 and got["d"]["in_total"] == 0
        assert got["c"]["out_total"] == 0 and got["c"]["in_total"] == 2
        # totals always equal the sum of typed counts on this schema
        for v in got.values():
            assert v["out_total"] == sum(v[f"out_{n}"] for n in
                                         ("is_a", "part_of", "causes", "related"))


class TestMetapathCounts:
    def _t(self, spark, rows):
        return spark.createDataFrame(
            rows, "subj_id string, predicate string, obj_id string"
        )

    def test_hand_census(self, spark):
        rows = [
            ("a", "causes", "m"), ("b", "causes", "m"),     # 2 into m
            ("m", "is_a", "x"), ("m", "is_a", "y"),          # 2 out of m
            ("p", "part_of", "q"), ("q", "related_to", "r"),
            ("a", "causes", "m"),                            # duplicate edge
        ]
        got = {(r["rel1"], r["rel2"]): (r["n_paths"], r["n_mids"])
               for r in queries.metapath_counts(self._t(spark, rows)).collect()}
        assert got[("causes", "is_a")] == (4, 1)   # 2 x 2 through m
        assert got[("part_of", "related_to")] == (1, 1)
        assert len(got) == 2

    def test_hub_mid_capped(self, spark):
        # hub mid with degree 12 > cap 10 contributes nothing
        rows = [(f"s{i}", "causes", "hub") for i in range(6)]
        rows += [("hub", "is_a", f"t{i}") for i in range(6)]
        rows += [("u", "causes", "m2"), ("m2", "is_a", "v")]
        got = {(r["rel1"], r["rel2"]): r["n_paths"]
               for r in queries.metapath_counts(self._t(spark, rows), max_degree=10).collect()}
        assert got == {("causes", "is_a"): 1}  # only the m2 path survives


class TestCommunityBridges:
    def test_bridges_found_and_ranked(self, spark):
        # two triangles joined by one weighted bridge
        und = spark.createDataFrame(
            [("a1", "a2", 5), ("a1", "a3", 4), ("a2", "a3", 3),
             ("b1", "b2", 5), ("b1", "b3", 4), ("b2", "b3", 3),
             ("a1", "b1", 9), ("a3", "b3", 2)],
            "a_id string, b_id string, freq long",
        )
        labels = spark.createDataFrame(
            [("a1", "A"), ("a2", "A"), ("a3", "A"),
             ("b1", "B"), ("b2", "B"), ("b3", "B")],
            "id string, label string",
        )
        got = [tuple(r) for r in queries.community_bridges(und, labels, top_k=10).collect()]
        assert got == [
            ("a1", "b1", 9, "A", "B"),
            ("a3", "b3", 2, "A", "B"),
        ]

    def test_no_bridges_when_single_community(self, spark):
        und = spark.createDataFrame(
            [("x", "y", 1)], "a_id string, b_id string, freq long"
        )
        labels = spark.createDataFrame(
            [("x", "C"), ("y", "C")], "id string, label string"
        )
        assert queries.community_bridges(und, labels).count() == 0


class TestPeripheralConcepts:
    def test_degree_ranked_with_zero_degree_first(self, spark):
        import __spark_entry__ as E

        got = E.queries()["kg_peripheral_concepts"](
            spark.builder.getOrCreate() if False else spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) == 25
        degs = [r["degree"] for r in got]
        assert degs == sorted(degs)
        assert all(r["n_mentions"] >= 1 for r in got)


class TestSimrank:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "a_id string, b_id string")

    def _py_simrank(self, edges, c=0.8, iters=2):
        from decimal import Decimal, ROUND_HALF_UP

        def r6(x):
            return float(
                Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )

        nbr = {}
        for a, b in edges:
            if a != b:
                nbr.setdefault(a, set()).add(b)
                nbr.setdefault(b, set()).add(a)
        nodes = sorted(nbr)
        s = {(u, u): 1.0 for u in nodes}
        for _ in range(iters):
            nxt = {}
            for a in nodes:
                for b in nodes:
                    if a == b:
                        continue
                    tot = sum(
                        s.get((i, j), 0.0) for i in nbr[a] for j in nbr[b]
                    )
                    if tot:
                        nxt[(a, b)] = r6(c * tot / (len(nbr[a]) * len(nbr[b])))
            s = {(u, u): 1.0 for u in nodes}
            s.update(nxt)
        return s

    def test_matches_python_replay(self, spark):
        import random

        rng = random.Random(17)
        nodes = [f"n{i}" for i in range(12)]
        edges = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(25)
            }
        )
        want = self._py_simrank(edges)
        got = queries.simrank(self._pairs(spark, edges), top_k=1000).collect()
        for r in got:
            w = want.get((r["a_id"], r["b_id"]), 0.0)
            assert abs(r["simrank"] - w) < 2e-6, (r, w)

    def test_structural_equivalence_without_shared_edge(self, spark):
        # a and b both link only to {x, y} but not to each other and
        # share no neighbour with c: SimRank(a,b) high, (a,c) zero
        edges = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("c", "z")]
        got = {
            (r["a_id"], r["b_id"]): r["simrank"]
            for r in queries.simrank(
                self._pairs(spark, edges), top_k=1000
            ).collect()
        }
        assert got[("a", "b")] >= 0.5
        assert ("a", "c") not in got or got[("a", "c")] == 0.0


class TestAttackTolerance:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "a_id string, b_id string")

    def test_star_shatters_on_hub_removal(self, spark):
        edges = [("hub", f"s{i}") for i in range(6)]
        got = {
            r["k_removed"]: r
            for r in queries.attack_tolerance(
                self._pairs(spark, edges), ks=(0, 1)
            ).collect()
        }
        assert got[0]["n_components"] == 1 and got[0]["largest_cc"] == 7
        # removing the hub leaves 6 isolated singletons
        assert got[1]["n_nodes"] == 6 and got[1]["n_edges"] == 0
        assert got[1]["n_components"] == 6 and got[1]["largest_cc"] == 1

    def test_matches_python_replay(self, spark):
        import random

        rng = random.Random(31)
        nodes = [f"n{i:02d}" for i in range(20)]
        edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)})

        def replay(k):
            deg = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            hubs = set(sorted(deg, key=lambda n: (-deg[n], n))[:k])
            keep = [e for e in edges if e[0] not in hubs and e[1] not in hubs]
            ns = set(deg) - hubs
            parent = {n: n for n in ns}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in keep:
                parent[find(a)] = find(b)
            comps = {}
            for n in ns:
                comps.setdefault(find(n), []).append(n)
            sizes = [len(v) for v in comps.values()]
            return (len(ns), len(keep), len(sizes), max(sizes) if sizes else 0)

        got = {
            r["k_removed"]: r
            for r in queries.attack_tolerance(
                self._pairs(spark, edges), ks=(0, 2, 5)
            ).collect()
        }
        for k in (0, 2, 5):
            n, e, nc, lg = replay(k)
            r = got[k]
            assert (r["n_nodes"], r["n_edges"], r["n_components"], r["largest_cc"]) == (
                n, e, nc, lg,
            ), (k, r)


class TestPropertyPath:
    def _triples(self, spark, rows):
        return spark.createDataFrame(
            rows, "subj_id string, predicate string, obj_id string"
        )

    def test_star_then_final_with_min_hops(self, spark):
        rows = [
            ("a", "is_a", "b"),
            ("b", "is_a", "c"),
            ("c", "part_of", "d"),
            ("x", "part_of", "y"),
            ("a", "part_of", "d"),  # also a direct 0-hop path for a
        ]
        got = {
            (r["src_id"], r["dst_id"]): r["min_star_hops"]
            for r in queries.property_path(self._triples(spark, rows)).collect()
        }
        assert got[("c", "d")] == 0
        assert got[("b", "d")] == 1
        assert got[("a", "d")] == 0  # direct part_of wins over the 2-hop chain
        assert got[("x", "y")] == 0
        assert ("x", "d") not in got

    def test_depth_cap(self, spark):
        chain = [(f"n{i}", "is_a", f"n{i+1}") for i in range(6)] + [
            ("n6", "part_of", "z")
        ]
        got = {
            (r["src_id"], r["dst_id"]): r["min_star_hops"]
            for r in queries.property_path(
                self._triples(spark, chain), max_star=4
            ).collect()
        }
        assert got[("n2", "z")] == 4
        assert ("n0", "z") not in got  # 6 hops > cap


class TestWuPalmer:
    def test_hand_taxonomy(self, spark):
        isa = spark.createDataFrame(
            [("a", "r"), ("b", "r"), ("c", "a")],
            "child_id string, parent_id string",
        )
        got = {
            (r["a_id"], r["b_id"]): r
            for r in queries.wu_palmer_similarity(isa, top_k=100).collect()
        }
        # layers: r=0, a=b=1, c=2; d = layer+1
        assert got[("a", "b")]["score"] == 0.5 and got[("a", "b")]["lca_id"] == "r"
        assert got[("a", "c")]["score"] == 0.8 and got[("a", "c")]["lca_id"] == "a"
        assert got[("b", "c")]["score"] == 0.4
        # ranking: deepest-lcs pair first
        top = queries.wu_palmer_similarity(isa, top_k=1).collect()[0]
        assert (top["a_id"], top["b_id"]) == ("a", "c")


class TestTypedTriangleCensus:
    def test_hand_motifs(self, spark):
        t = spark.createDataFrame(
            [
                ("a", "causes", "b"),
                ("b", "is_a", "c"),
                ("a", "causes", "c"),   # closes (causes, is_a) with causes
                ("x", "is_a", "y"),
                ("y", "is_a", "z"),     # open 2-path, never closes
            ],
            "subj_id string, predicate string, obj_id string",
        )
        got = {
            (r["rel1"], r["rel2"], r["rel3"]): r["n_triangles"]
            for r in queries.typed_triangle_census(t).collect()
        }
        assert got == {("causes", "is_a", "causes"): 1}

    def test_hub_mid_capped(self, spark):
        rows = [("s", "is_a", "hub")] + [
            ("hub", "is_a", f"o{i}") for i in range(5)
        ] + [("s", "is_a", f"o{i}") for i in range(5)]
        t = spark.createDataFrame(
            rows, "subj_id string, predicate string, obj_id string"
        )
        full = queries.typed_triangle_census(t, max_degree=128).collect()
        assert full and full[0]["n_triangles"] == 5
        capped = queries.typed_triangle_census(t, max_degree=3).collect()
        assert capped == []


class TestLandmarkDistanceEval:
    def test_matches_python_replay(self, spark):
        import hashlib
        import random
        from collections import deque

        rng = random.Random(23)
        nodes = [f"n{i:02d}" for i in range(24)]
        edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)})
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        present = sorted(adj)
        ranked = sorted(present, key=lambda n: hashlib.md5(n.encode()).hexdigest())
        lms, samps = ranked[:3], ranked[3:9]

        def bfs(src, cap=4):
            d = {src: 0}
            q = deque([src])
            while q:
                u = q.popleft()
                if d[u] == cap:
                    continue
                for w in adj[u]:
                    if w not in d:
                        d[w] = d[u] + 1
                        q.append(w)
            return d

        dist = {s: bfs(s) for s in lms + samps}
        want = {}
        for a in samps:
            for b in samps:
                if a >= b or b not in dist[a]:
                    continue
                ests = [
                    dist[l][a] + dist[l][b]
                    for l in lms
                    if a in dist[l] and b in dist[l]
                ]
                want[(a, b)] = (dist[a][b], min(ests) if ests else None)
        und = spark.createDataFrame(
            [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
            "cid string, nbr_id string",
        )
        got = {
            (r["a_id"], r["b_id"]): (r["exact_dist"], r["est_dist"])
            for r in queries.landmark_distance_eval(
                und, n_landmarks=3, n_samples=6, max_hops=4
            ).collect()
        }
        assert got == want
        # the triangle inequality must hold wherever est exists
        for (a, b), (ex, es) in got.items():
            if es is not None:
                assert es >= ex


class TestEigenvectorCentrality:
    def test_matches_numpy_power_iteration(self, spark):
        got = {
            r["id"]: r["score"]
            for r in queries.eigenvector_centrality(
                _und_df(spark, EDGES), iters=8, top_k=100
            ).collect()
        }
        sym = set(EDGES) | {(b, a) for a, b in EDGES}
        nodes = sorted({a for a, _ in sym})
        idx = {v: i for i, v in enumerate(nodes)}
        x = np.ones(len(nodes))
        for _ in range(8):
            nxt = np.zeros(len(nodes))
            for a, b in sym:
                nxt[idx[a]] += x[idx[b]]
            x = nxt
        x = x / np.sqrt((x * x).sum())
        assert set(got) == set(nodes)
        for v in nodes:
            assert abs(got[v] - round(x[idx[v]], 6)) < 1e-9, v

    def test_star_center_dominates(self, spark):
        # star K1,4 is bipartite (eigenvalues ±2), so EVEN round
        # counts land on the parity where hub == leaf — odd iters
        # show the hub strictly above every leaf, leaves tied by
        # symmetry (the same parity caveat the LPA docstring carries)
        star = [("hub", f"l{i}") for i in range(4)]
        got = {
            r["id"]: r["score"]
            for r in queries.eigenvector_centrality(
                _und_df(spark, star), iters=7, top_k=100
            ).collect()
        }
        leaves = {got[f"l{i}"] for i in range(4)}
        assert len(leaves) == 1
        assert got["hub"] > leaves.pop()

    def test_top_k_ordering(self, spark):
        out = queries.eigenvector_centrality(
            _und_df(spark, EDGES), iters=8, top_k=3
        ).collect()
        assert len(out) == 3
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)


class TestTieStrength:
    # kite + tail: triangles (a,b,c),(b,c,d); (d,e) is a local bridge
    EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"), ("d", "e")]

    def test_hand_computed_embeddedness(self, spark):
        got = {
            (r["a_id"], r["b_id"]): (
                r["degree_a"], r["degree_b"], r["common_nbrs"], r["embeddedness"]
            )
            for r in queries.tie_strength(_und_df(spark, self.EDGES), top_k=100).collect()
        }
        assert got == {
            ("a", "b"): (2, 3, 1, 0.5),
            ("a", "c"): (2, 3, 1, 0.5),
            ("b", "c"): (3, 3, 2, 1.0),
            ("b", "d"): (3, 3, 1, 0.333333),
            ("c", "d"): (3, 3, 1, 0.333333),
            ("d", "e"): (3, 1, 0, 0.0),
        }

    def test_isolated_edge_defined_zero(self, spark):
        # degree-1 -- degree-1 edge: empty neighborhood union -> 0.0
        got = queries.tie_strength(_und_df(spark, [("x", "y")]), top_k=10).collect()
        assert len(got) == 1 and got[0]["embeddedness"] == 0.0

    def test_ordering_and_limit(self, spark):
        out = queries.tie_strength(_und_df(spark, self.EDGES), top_k=3).collect()
        assert [r["embeddedness"] for r in out] == sorted(
            [r["embeddedness"] for r in out], reverse=True
        )
        assert len(out) == 3
