"""Catalog conformance: the Iceberg-parity contract in ONE module.

The catalog (kg/sources/catalog.py) is a hand-rolled parquet+manifest
store with Iceberg semantics — SURVEY.md §7's sanctioned sandbox
fallback for the real Iceberg runtime.  This suite pins the SEMANTIC
contract a real-Iceberg swap must satisfy, so the future drop-in
replacement is verified by re-running exactly these tests against the
thin interface:

1. atomic snapshot commits + monotonic versioning
2. snapshot isolation (a published snapshot never mutates)
3. time travel (VERSION AS OF) within the retention window
4. incremental scan primitives (is_append_version / read_version_delta)
5. MERGE duplicate-source-key resolution (Iceberg errors; we resolve
   under a fixed total order — batch-split independence)
6. MERGE idempotency + last-write-wins
7. merge-on-read resolution order (delta seq > base; tombstones;
   compaction folds without changing the logical table)
8. schema evolution (add-column null-fill via merge_schema)
9. spec immutability (a mor spec cannot silently change)
10. expire/GC invariants (retained snapshots stay readable, expired
    dirs actually leave the filesystem)
11. row-level CDC changelog between snapshots (snapshot_diff =
    create_changelog_view parity: insert/delete/update_before/
    update_after images, null-bitmap row equality, schema evolution)
12. key scans (read_keys = SELECT DISTINCT keys over the resolved
    table)

Reference parity notes: MERGE ON keys / WHEN MATCHED UPDATE / WHEN NOT
MATCHED INSERT mirrors the reference's Neo4j MERGE upserts
(Neo4jSink.scala:138-164); snapshot/manifest layout mirrors Iceberg's
pointer -> manifest -> data-files chain.
"""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
    ParquetCatalog,
)

# ---------------------------------------------------------------------------
# Implementation registry: the suite runs against the INTERFACE, not
# the class.  A real-Iceberg drop-in registers a factory here (see the
# swap recipe in catalog.py's module docstring) and every contract
# test below re-runs against it unchanged; filesystem-layout
# assertions are gated on the parquet-manifest impl.
# ---------------------------------------------------------------------------
CATALOG_IMPLS = {
    "parquet_manifest": lambda root: ParquetCatalog(root),
    # "iceberg": lambda root: IcebergCatalog(root),  # future drop-in —
    # requires iceberg-spark-runtime jars (absent from this sandbox)
}


@pytest.fixture(params=sorted(CATALOG_IMPLS))
def catalog(request, tmp_path):
    d = tmp_path / f"catalog_{request.param}"
    yield CATALOG_IMPLS[request.param](str(d))
    shutil.rmtree(d, ignore_errors=True)


def _is_parquet_manifest_impl(catalog) -> bool:
    return type(catalog) is ParquetCatalog


def _mk(spark, data):
    return spark.createDataFrame(data, "k long, val string, conf double")


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "val", "conf").collect())


class TestSnapshotCommits:
    def test_versions_monotonic_and_atomic_pointer(self, spark, catalog):
        assert catalog.current_version("t") == 0 and not catalog.exists("t")
        v1 = catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        v2 = catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        v3 = catalog.overwrite(_mk(spark, [(9, "z", 0.5)]), "t")
        assert (v1, v2, v3) == (1, 2, 3)
        assert catalog.current_version("t") == 3
        if _is_parquet_manifest_impl(catalog):
            # pointer file flips atomically via rename — no .tmp
            # leftovers (layout-specific; Iceberg has its own metadata)
            assert not glob.glob(os.path.join(catalog.root, "t", "*.tmp"))

    def test_append_unions_overwrite_supersedes(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        assert _rows(catalog.read(spark, "t")) == [(1, "a", 0.5), (2, "b", 0.5)]
        catalog.overwrite(_mk(spark, [(3, "c", 0.5)]), "t")
        assert _rows(catalog.read(spark, "t")) == [(3, "c", 0.5)]

    def test_snapshot_isolation_reader_unaffected_by_commit(self, spark, catalog):
        """A published snapshot never mutates: a plan captured at
        version v returns v's rows even after a later append commit
        (appends add NEW data dirs; existing dirs are immutable)."""
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        reader = catalog.read(spark, "t")
        catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        assert _rows(reader) == [(1, "a", 0.5)]
        assert _rows(catalog.read(spark, "t")) == [(1, "a", 0.5), (2, "b", 0.5)]


class TestTimeTravel:
    def test_read_as_of_reproduces_each_retained_snapshot(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(3, "c", 0.5)]), "t")
        assert _rows(catalog.read_as_of(spark, "t", 1)) == [(1, "a", 0.5)]
        assert _rows(catalog.read_as_of(spark, "t", 2)) == [(1, "a", 0.5), (2, "b", 0.5)]
        assert _rows(catalog.read_as_of(spark, "t", 3)) == _rows(catalog.read(spark, "t"))

    def test_read_as_of_unknown_version_raises(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        with pytest.raises(KeyError):
            catalog.read_as_of(spark, "t", 2)
        with pytest.raises(KeyError):
            catalog.read_as_of(spark, "t", 0)

    def test_incremental_scan_primitives(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        assert catalog.is_append_version("t", 2)
        assert _rows(catalog.read_version_delta(spark, "t", 2)) == [(2, "b", 0.5)]
        catalog.overwrite(_mk(spark, [(9, "z", 0.5)]), "t")
        # an overwrite is NOT an append — incremental consumers rebuild
        assert not catalog.is_append_version("t", 3)


class TestMergeSemantics:
    def test_duplicate_source_keys_resolve_deterministically(self, spark, catalog):
        """Iceberg MERGE raises on duplicate source keys; this catalog
        resolves them under (tiebreak..., content_rid) — one winner,
        stable across reruns and partitionings."""
        batch = _mk(spark, [(1, "lo", 0.1), (1, "hi", 0.9), (2, "b", 0.5)])
        catalog.merge_upsert(spark, "t", batch, keys=["k"], tiebreak=["conf"])
        assert _rows(catalog.read(spark, "t")) == [(1, "hi", 0.9), (2, "b", 0.5)]

    def test_merge_idempotent(self, spark, catalog):
        batch = _mk(spark, [(1, "a", 0.5), (2, "b", 0.9)])
        catalog.merge_upsert(spark, "t", batch, keys=["k"], tiebreak=["conf"])
        before = _rows(catalog.read(spark, "t"))
        catalog.merge_upsert(spark, "t", batch, keys=["k"], tiebreak=["conf"])
        assert _rows(catalog.read(spark, "t")) == before

    def test_merge_replace_is_last_write_wins(self, spark, catalog):
        catalog.merge_upsert(spark, "t", _mk(spark, [(1, "old", 0.9)]), keys=["k"], tiebreak=["conf"])
        # replace: a matched source row replaces the target even with a
        # LOWER tiebreak value (arrival order wins across batches)
        catalog.merge_upsert(spark, "t", _mk(spark, [(1, "new", 0.1)]), keys=["k"], tiebreak=["conf"])
        assert _rows(catalog.read(spark, "t")) == [(1, "new", 0.1)]

    def test_merge_deterministic_is_batch_split_independent(self, spark, catalog):
        """resolution="deterministic": run(A);run(B) == run(A∪B) —
        existing rows COMPETE with updates under the same total order,
        so incremental arrival cannot change the final table."""
        a = [(1, "x", 0.9), (2, "b", 0.5)]
        b = [(1, "y", 0.1), (3, "c", 0.5)]
        catalog.merge_upsert(spark, "s1", _mk(spark, a), keys=["k"], tiebreak=["conf"], resolution="deterministic")
        catalog.merge_upsert(spark, "s1", _mk(spark, b), keys=["k"], tiebreak=["conf"], resolution="deterministic")
        catalog.merge_upsert(spark, "s2", _mk(spark, a + b), keys=["k"], tiebreak=["conf"], resolution="deterministic")
        assert _rows(catalog.read(spark, "s1")) == _rows(catalog.read(spark, "s2"))


class TestMorConformance:
    def test_resolution_order_delta_beats_base(self, spark, catalog):
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "base", 0.9)]), keys=["k"], tiebreak=["conf"])
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "d1", 0.5)]), keys=["k"], tiebreak=["conf"])
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "d2", 0.1)]), keys=["k"], tiebreak=["conf"])
        # replace resolution: newest delta wins regardless of tiebreak
        assert _rows(catalog.read(spark, "t")) == [(1, "d2", 0.1)]

    def test_mor_equals_cow_and_compaction_preserves(self, spark, catalog):
        batches = [
            [(1, "a", 0.5), (2, "b", 0.5)],
            [(2, "B", 0.9), (3, "c", 0.5)],
            [(1, "A", 0.1)],
        ]
        for b in batches:
            catalog.merge_upsert_mor(spark, "mor", _mk(spark, b), keys=["k"], tiebreak=["conf"])
            catalog.merge_upsert(spark, "cow", _mk(spark, b), keys=["k"], tiebreak=["conf"])
        assert _rows(catalog.read(spark, "mor")) == _rows(catalog.read(spark, "cow"))
        logical = _rows(catalog.read(spark, "mor"))
        catalog.compact(spark, "mor")
        assert _rows(catalog.read(spark, "mor")) == logical
        # compaction folded the deltas: physical == logical row count
        assert catalog.count("mor") == len(logical)

    def test_mor_tombstone_delete_and_purge(self, spark, catalog):
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"], tiebreak=["conf"])
        catalog.delete_keys_mor(spark, "t", spark.createDataFrame([(1,)], "k long"))
        assert _rows(catalog.read(spark, "t")) == [(2, "b", 0.5)]
        catalog.compact(spark, "t")
        assert _rows(catalog.read(spark, "t")) == [(2, "b", 0.5)]
        assert catalog.count("t") == 1  # tombstones purged physically

    def test_mor_spec_immutable(self, spark, catalog):
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"], tiebreak=["conf"])
        with pytest.raises(ValueError, match="mor spec"):
            catalog.merge_upsert_mor(spark, "t", _mk(spark, [(2, "b", 0.5)]), keys=["k"], tiebreak=[])


class TestReadKeys:
    """Contract 12: read_keys is the distinct key set of the resolved
    table, whatever the layout."""

    @staticmethod
    def _same_keys(spark, catalog, name):
        got = sorted(tuple(r) for r in catalog.read_keys(spark, name, ["k"]).collect())
        want = sorted(tuple(r) for r in catalog.read(spark, name).select("k").distinct().collect())
        assert got == want
        return got

    def test_plain_table(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(2, "c", 0.5), (3, "d", 0.5)]), "t")
        assert self._same_keys(spark, catalog, "t") == [(1,), (2,), (3,)]

    def test_deterministic_mor_table_with_deltas(self, spark, catalog):
        for b in ([(1, "a", 0.5), (2, "b", 0.5)], [(2, "B", 0.9), (3, "c", 0.5)]):
            catalog.merge_upsert_mor(
                spark, "t", _mk(spark, b), keys=["k"], tiebreak=["conf"],
                resolution="deterministic",
            )
        if _is_parquet_manifest_impl(catalog):
            assert catalog._delta_entries("t")
        assert self._same_keys(spark, catalog, "t") == [(1,), (2,), (3,)]

    def test_replace_mor_table_with_tombstone(self, spark, catalog):
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"])
        catalog.merge_upsert_mor(spark, "t", _mk(spark, [(3, "c", 0.5)]), keys=["k"])
        catalog.delete_keys_mor(spark, "t", spark.createDataFrame([(1,)], "k long"))
        assert self._same_keys(spark, catalog, "t") == [(2,), (3,)]


class TestSchemaEvolution:
    def test_add_column_null_fills_old_rows(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.append(
            spark,
            spark.createDataFrame([(2, "b", 0.5, "en")], "k long, val string, conf double, lang string"),
            "t",
        )
        got = {
            (r["k"], r["lang"])
            for r in catalog.read(spark, "t", merge_schema=True).collect()
        }
        assert got == {(1, None), (2, "en")}


class TestExpireAndGc:
    def test_expire_keeps_recent_snapshots_readable(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        for i in range(2, 6):
            catalog.append(spark, _mk(spark, [(i, "x", 0.5)]), "t")
        removed = catalog.expire_snapshots("t", keep_last=2)
        assert removed and max(removed) == catalog.current_version("t") - 2
        # retained snapshots stay fully readable
        cur = catalog.current_version("t")
        assert len(_rows(catalog.read_as_of(spark, "t", cur))) == 5
        assert len(_rows(catalog.read_as_of(spark, "t", cur - 1))) == 4
        # expired manifests are gone
        with pytest.raises((KeyError, FileNotFoundError)):
            catalog.read_as_of(spark, "t", min(removed))

    def test_gc_removes_superseded_dirs(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.overwrite(_mk(spark, [(2, "b", 0.5)]), "t")
        catalog.overwrite(_mk(spark, [(3, "c", 0.5)]), "t")
        catalog.overwrite(_mk(spark, [(4, "d", 0.5)]), "t")
        if _is_parquet_manifest_impl(catalog):
            # only dirs referenced by the current or previous manifest
            # survive on disk (retention window = 2) — layout-specific;
            # Iceberg's equivalent is expire_snapshots + orphan cleanup
            dirs = {os.path.basename(d) for d in glob.glob(os.path.join(catalog.root, "t", "[de]*"))}
            assert dirs == {"d00003", "d00004"}
        assert _rows(catalog.read(spark, "t")) == [(4, "d", 0.5)]


class TestSnapshotDiff:
    """Contract 11: row-level CDC changelog between two snapshots
    (Iceberg create_changelog_view parity) — exact across MERGE,
    delete, overwrite, and schema-evolution commits, unlike the
    append-dirs-only read_version_delta."""

    def test_insert_and_update_images(self, spark, catalog):
        # both snapshots inside the retention window (GC keeps the
        # current + previous manifests' dirs — same bound read_as_of
        # documents)
        catalog.merge_upsert(
            spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), ["k"]
        )
        v1 = catalog.current_version("t")
        catalog.merge_upsert(
            spark, "t", _mk(spark, [(2, "B", 0.9), (4, "d", 0.5)]), ["k"]
        )
        v2 = catalog.current_version("t")
        got = sorted(
            (r["_change_type"], r["k"], r["val"])
            for r in catalog.snapshot_diff(spark, "t", v1, v2, ["k"]).collect()
        )
        assert got == [
            ("insert", 4, "d"),
            ("update_after", 2, "B"),
            ("update_before", 2, "b"),
        ]

    def test_delete_image(self, spark, catalog):
        catalog.merge_upsert(
            spark, "t", _mk(spark, [(1, "a", 0.5), (3, "c", 0.5)]), ["k"]
        )
        v1 = catalog.current_version("t")
        catalog.delete_keys(spark, "t", spark.createDataFrame([(3,)], "k long"))
        v2 = catalog.current_version("t")
        got = [
            (r["_change_type"], r["k"], r["val"])
            for r in catalog.snapshot_diff(spark, "t", v1, v2, ["k"]).collect()
        ]
        assert got == [("delete", 3, "c")]

    def test_identical_snapshots_empty_diff(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(2, "b", 0.5)]), "t")
        v = catalog.current_version("t")
        assert catalog.snapshot_diff(spark, "t", v, v, ["k"]).count() == 0

    def test_null_vs_value_is_an_update(self, spark, catalog):
        # the null-bitmap guard: NULL -> value must register as update
        df1 = spark.createDataFrame([(1, None)], "k long, val string")
        df2 = spark.createDataFrame([(1, "x")], "k long, val string")
        catalog.overwrite(df1, "t")
        catalog.overwrite(df2, "t")
        got = {r["_change_type"] for r in catalog.snapshot_diff(spark, "t", 1, 2, ["k"]).collect()}
        assert got == {"update_before", "update_after"}

    def test_schema_evolution_diff_is_wellformed(self, spark, catalog):
        catalog.overwrite(_mk(spark, [(1, "a", 0.5)]), "t")
        evolved = spark.createDataFrame(
            [(1, "a", 0.5, "en"), (2, "b", 0.5, "de")],
            "k long, val string, conf double, lang string",
        )
        catalog.overwrite(evolved, "t")
        diff = catalog.snapshot_diff(spark, "t", 1, 2, ["k"])
        assert set(diff.columns) == {"_change_type", "k", "val", "conf", "lang"}
        by = {(r["_change_type"], r["k"]): r["lang"] for r in diff.collect()}
        # k=1 gained a lang value -> update; k=2 is new
        assert ("insert", 2) in by and by[("insert", 2)] == "de"
        assert ("update_before", 1) in by and by[("update_before", 1)] is None
        assert by[("update_after", 1)] == "en"

    def test_keys_only_table_diff(self, spark, catalog):
        # a bare edge-set table (all columns are the key): no update
        # images are possible — only insert/delete membership changes
        e1 = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        e2 = spark.createDataFrame([(2, 3), (3, 4)], "src long, dst long")
        catalog.overwrite(e1, "t")
        catalog.overwrite(e2, "t")
        got = sorted(
            (r["_change_type"], r["src"], r["dst"])
            for r in catalog.snapshot_diff(spark, "t", 1, 2, ["src", "dst"]).collect()
        )
        assert got == [("delete", 1, 2), ("insert", 3, 4)]

    def test_snapshot_history_panel(self, spark, catalog):
        # append-only chain keeps full dir history -> complete panel
        catalog.append(spark, _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), "t")
        catalog.append(spark, _mk(spark, [(3, "c", 0.5)]), "t")
        catalog.merge_upsert(spark, "t", _mk(spark, [(3, "C", 0.9)]), ["k"])
        hist = catalog.snapshot_history(spark, "t", ["k"])
        assert [h["version"] for h in hist] == [3, 2, 1]
        by = {h["version"]: h for h in hist}
        assert by[3] == {"version": 3, "insert": 0, "delete": 0, "update": 1}
        assert by[2] == {"version": 2, "insert": 1, "delete": 0, "update": 0}
        assert by[1] == {"version": 1, "insert": 2, "delete": 0, "update": 0}

    def test_snapshot_history_reports_expired_pairs(self, spark, catalog):
        # three CoW rewrites: only the last pair's dirs survive GC
        for i, val in enumerate(["a", "b", "c", "d"], start=1):
            catalog.overwrite(_mk(spark, [(i, val, 0.5)]), "t")
        hist = catalog.snapshot_history(spark, "t", ["k"])
        by = {h["version"]: h for h in hist}
        assert by[4] == {"version": 4, "insert": 1, "delete": 1, "update": 0}
        assert by[2].get("expired") is True


# scenario matrix for the replay test: (rows_v1, rows_v2) over schema
# (k long, val string, conf double) — nulls, disjoint sets, identical
# content, all-change, and value-type edges all covered
_DIFF_SCENARIOS = [
    # disjoint key sets: pure insert+delete
    ([(1, "a", 0.1)], [(2, "b", 0.2)]),
    # identical: empty diff
    ([(1, "a", 0.1), (2, None, None)], [(1, "a", 0.1), (2, None, None)]),
    # value change, null->value, value->null
    (
        [(1, "a", 0.1), (2, None, 0.2), (3, "c", None)],
        [(1, "a", 0.9), (2, "x", 0.2), (3, "c", 0.5)],
    ),
    # mixed: keep, update, delete, insert
    (
        [(1, "a", 0.1), (2, "b", 0.2), (3, "c", 0.3)],
        [(1, "a", 0.1), (2, "B", 0.2), (4, "d", 0.4)],
    ),
    # all rows replaced
    ([(1, "a", 0.1)], [(1, "z", 0.9)]),
    # float zero vs null distinction
    ([(1, "a", 0.0)], [(1, "a", None)]),
]


class TestSnapshotDiffReplay:
    """snapshot_diff vs an independent pandas replay of the spec over
    a scenario matrix (the cross-implementation check the single-case
    image tests can't give)."""

    @pytest.mark.parametrize("v1_rows,v2_rows", _DIFF_SCENARIOS)
    def test_matches_pandas_replay(self, spark, catalog, v1_rows, v2_rows):
        catalog.overwrite(_mk(spark, v1_rows), "t")
        catalog.overwrite(_mk(spark, v2_rows), "t")
        got = sorted(
            (r["_change_type"], r["k"], r["val"], r["conf"])
            for r in catalog.snapshot_diff(spark, "t", 1, 2, ["k"]).collect()
        )
        a = {r[0]: r for r in v1_rows}
        b = {r[0]: r for r in v2_rows}
        want = []
        for k in a.keys() - b.keys():
            want.append(("delete", *a[k]))
        for k in b.keys() - a.keys():
            want.append(("insert", *b[k]))
        for k in a.keys() & b.keys():
            if a[k] != b[k]:
                want.append(("update_before", *a[k]))
                want.append(("update_after", *b[k]))
        assert got == sorted(want)
