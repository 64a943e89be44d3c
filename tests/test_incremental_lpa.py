"""Incremental community refresh == full-graph LPA/CC, exactly.

The theorem (plans/queries.incremental_communities): synchronous
LPA and connected components are pure functions of each connected
component's edge set, so reusing stored labels/components for
components with no delta endpoint and recomputing only the
delta-touched components reproduces the full-graph labeling and
component index row-for-row.  The fixtures exercise every way a
delta can interact with the component index:

- an edge INSIDE one base component (labels of that component may
  change; everyone else's must not),
- an edge MERGING two base components,
- an edge attaching a NEW node to an existing component,
- a delta-only component of brand-new nodes,
- an untouched component whose stored labels must survive verbatim.

The fold tests chain the function the way plans/refresh.py does: each
batch's labels and components become the next batch's stored tables.
"""

from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.operators import canonicalize
from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import queries as q


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    return df.select(F.col("a").alias("cid"), F.col("b").alias("nbr_id")).unionByName(
        df.select(F.col("b").alias("cid"), F.col("a").alias("nbr_id"))
    )


def _labels(df):
    return {(r["id"], r["label"]) for r in df.collect()}


def _comps(df):
    return {(r["id"], r["component"]) for r in df.collect()}


def _full_cc(und):
    return canonicalize.connected_components(und, src="cid", dst="nbr_id")


# four base components: triangles A, B, D and a 4-chain C
BASE = [
    ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
    ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
    ("d1", "d2"), ("d2", "d3"), ("d1", "d3"),
    ("c1", "c2"), ("c2", "c3"), ("c3", "c4"),
]
DELTA = [
    ("a3", "b1"),  # merges components A and B
    ("a1", "a2"),  # duplicate of a base edge (idempotent)
    ("c4", "n1"),  # new node attached to C
    ("n2", "n3"),  # brand-new delta-only component
]


def test_incremental_equals_full(spark):
    base, delta = _sym(spark, BASE), _sym(spark, DELTA)
    merged = base.unionByName(delta).distinct()
    labels, comp = q.incremental_communities(base, delta, iters=5)
    assert _labels(labels) == _labels(q.label_propagation(merged, iters=5))
    assert _comps(comp) == _comps(_full_cc(merged))


def test_untouched_component_labels_reused(spark):
    """Component D has no delta endpoint: its rows in the incremental
    output must equal the BASE labeling bit-for-bit (reuse, not
    recompute) — and the merged A+B component must differ from base
    (the delta actually changed something)."""
    base, delta = _sym(spark, BASE), _sym(spark, DELTA)
    base_labels = _labels(q.label_propagation(base, iters=5))
    incr = _labels(q.incremental_communities(base, delta, iters=5)[0])
    d_rows = {t for t in base_labels if t[0].startswith("d")}
    assert d_rows and d_rows == {t for t in incr if t[0].startswith("d")}
    assert {t[0] for t in incr} == {t[0] for t in base_labels} | {"n1", "n2", "n3"}


def test_modularity_two_triangles(spark):
    """Two disjoint triangles with the perfect (component) partition:
    m = 6, per community e_c = 3, d_c = 6 ->
    Q = 6/6 - 2 * (6/12)^2 = 0.5 exactly."""
    und = _sym(spark, BASE[:6])  # triangles A and B only
    labels = und.sparkSession.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B"), ("b3", "B")],
        "id string, label string",
    )
    row = q.modularity(und, labels).collect()[0]
    assert (row["n_communities"], row["m"], row["modularity"]) == (2, 6, 0.5)


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: Q = m/m - (2m/2m)^2 = 0."""
    und = _sym(spark, BASE[:3])
    labels = und.select(F.col("cid").alias("id")).distinct().withColumn(
        "label", F.lit("X")
    )
    row = q.modularity(und, labels).collect()[0]
    assert (row["n_communities"], row["m"], row["modularity"]) == (1, 3, 0.0)


def test_conductance_bridged_triangles(spark):
    """Two triangles + one bridge, perfect partition: each side has
    cut 1, vol 7 (degrees 2+2+3), m=7 -> phi = 1/min(7,7) = 0.142857."""
    und = _sym(spark, BASE[:6] + [("a3", "b1")])
    labels = und.sparkSession.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("a3", "A"), ("b1", "B"), ("b2", "B"), ("b3", "B")],
        "id string, label string",
    )
    rows = {
        r["community"]: (r["n_members"], r["cut"], r["vol"], r["conductance"])
        for r in q.conductance(und, labels, top_k=10).collect()
    }
    assert rows == {"A": (3, 1, 7, 0.142857), "B": (3, 1, 7, 0.142857)}


def test_empty_delta_is_identity(spark):
    base = _sym(spark, BASE)
    labels, comp = q.incremental_communities(base, base.limit(0), iters=5)
    assert _labels(labels) == _labels(q.label_propagation(base, iters=5))
    assert _comps(comp) == _comps(_full_cc(base))


# -- folding batches through the stored tables (the refresh regime) ----

BATCH1 = [
    ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
    ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
    ("d1", "d2"), ("d2", "d3"), ("d1", "d3"),
]
BATCH2 = [
    ("a3", "b1"),          # merges A and B
    ("d1", "d2"),          # duplicate of a stored edge
    ("n1", "n2"),          # brand-new component
]
BATCH3 = [
    ("d3", "n1"),          # merges D with the new component
    ("c1", "c2"), ("c2", "c3"),  # another new component
]


def _fold(spark, state, batch):
    """Fold one batch into the stored (edges, labels, components): cold
    for the first batch, incremental over the stored tables after."""
    delta = _sym(spark, batch)
    if state is None:
        und = delta.distinct()
        labels, comp = q.label_propagation(und, iters=5), _full_cc(und)
    else:
        base, base_labels, base_comp = state
        und = base.unionByName(delta).distinct()
        labels, comp = q.incremental_communities(
            base, delta, iters=5, base_labels=base_labels, base_comp=base_comp
        )
    return (
        und.localCheckpoint(eager=True),
        labels.localCheckpoint(eager=True),
        comp.localCheckpoint(eager=True),
    )


def _assert_equals_full(state):
    und, labels, comp = state
    assert _labels(labels) == _labels(q.label_propagation(und, iters=5))
    assert _comps(comp) == _comps(_full_cc(und))


def test_incremental_index_equals_full_rebuild(spark):
    """After each folded batch the labels and components equal a
    from-scratch LPA/CC over the union of every batch so far."""
    state = None
    for batch in (BATCH1, BATCH2, BATCH3):
        state = _fold(spark, state, batch)
        _assert_equals_full(state)


def test_replay_is_idempotent(spark):
    state = _fold(spark, _fold(spark, None, BATCH1), BATCH2)
    replayed = _fold(spark, state, BATCH2)
    assert _labels(replayed[1]) == _labels(state[1])
    assert _comps(replayed[2]) == _comps(state[2])


def test_untouched_component_not_rewritten(spark):
    """A batch touching only component A leaves the B and D rows of
    both tables as they were, and the result still equals a full
    rebuild."""
    before = _fold(spark, None, BATCH1)
    after = _fold(spark, before, [("a1", "a4")])

    def others(rows):
        return {t for t in rows if not t[0].startswith("a")}

    assert others(_labels(before[1]))
    assert others(_labels(after[1])) == others(_labels(before[1]))
    assert others(_comps(after[2])) == others(_comps(before[2]))
    _assert_equals_full(after)
