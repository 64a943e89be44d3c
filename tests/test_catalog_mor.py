"""Merge-on-read catalog mode: O(batch) delta writes, read-time
winner resolution, compaction folding."""

import glob
import os

import pytest

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.sources.catalog import (
    ParquetCatalog,
)


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "val", "conf").collect())


def _mk(spark, data):
    return spark.createDataFrame(data, "k long, val string, conf double")


class TestMorMerge:
    def test_delta_write_leaves_base_untouched(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"])
        base_files = set(glob.glob(str(tmp_path / "t" / "d*" / "*.parquet")))
        mtimes = {f: os.path.getmtime(f) for f in base_files}

        cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "B2", 0.9), (3, "c", 0.5)]), keys=["k"])
        assert set(glob.glob(str(tmp_path / "t" / "d*" / "*.parquet"))) == base_files
        assert {f: os.path.getmtime(f) for f in base_files} == mtimes
        # the delta landed as an e-dir
        assert glob.glob(str(tmp_path / "t" / "e*"))

    def test_read_resolves_last_write_wins(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.9), (2, "b", 0.9)]), keys=["k"])
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "B2", 0.1)]), keys=["k"])
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "B3", 0.2), (3, "c", 0.5)]), keys=["k"])
        # replace resolution: the NEWEST delta wins even with lower conf
        assert _rows(cat.read(spark, "t")) == [
            (1, "a", 0.9),
            (2, "B3", 0.2),
            (3, "c", 0.5),
        ]

    def test_within_batch_duplicates_resolved_by_tiebreak(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(
            spark,
            "t",
            _mk(spark, [(1, "lo", 0.1), (1, "hi", 0.9)]),
            keys=["k"],
            tiebreak=["conf"],
        )
        assert _rows(cat.read(spark, "t")) == [(1, "hi", 0.9)]

    def test_deterministic_resolution_is_batch_split_independent(self, spark, tmp_path):
        a = [(1, "x", 0.3), (2, "y", 0.8)]
        b = [(1, "z", 0.7), (3, "w", 0.1)]

        cat1 = ParquetCatalog(str(tmp_path / "split"))
        cat1.merge_upsert_mor(spark, "t", _mk(spark, a), keys=["k"], tiebreak=["conf"], resolution="deterministic")
        cat1.merge_upsert_mor(spark, "t", _mk(spark, b), keys=["k"], tiebreak=["conf"], resolution="deterministic")

        cat2 = ParquetCatalog(str(tmp_path / "union"))
        cat2.merge_upsert_mor(spark, "t", _mk(spark, a + b), keys=["k"], tiebreak=["conf"], resolution="deterministic")

        assert _rows(cat1.read(spark, "t")) == _rows(cat2.read(spark, "t"))
        # and the winner is by conf, not arrival: (1, z, 0.7) beats (1, x, 0.3)
        assert (1, "z", 0.7) in _rows(cat1.read(spark, "t"))

    def test_compact_folds_deltas(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"])
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "B2", 0.9)]), keys=["k"])
        before = _rows(cat.read(spark, "t"))

        cat.compact(spark, "t")
        assert _rows(cat.read(spark, "t")) == before
        assert cat._delta_entries("t") == []
        # physical count now equals logical count again
        assert cat.count("t") == len(before)
        # a new delta after compaction still resolves
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "A9", 0.9)]), keys=["k"])
        assert (1, "A9", 0.9) in _rows(cat.read(spark, "t"))

    def test_maybe_compact_bounds_delta_count(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        for i in range(5):
            cat.merge_upsert_mor(spark, "t", _mk(spark, [(i, f"v{i}", 0.5)]), keys=["k"])
        before = _rows(cat.read(spark, "t"))
        assert cat.maybe_compact(spark, "t", max_deltas=16) is None  # under bound
        assert len(cat._delta_entries("t")) == 4
        assert cat.maybe_compact(spark, "t", max_deltas=3) is not None
        assert cat._delta_entries("t") == []
        assert _rows(cat.read(spark, "t")) == before

    def test_gc_expires_superseded_delta_dirs(self, spark, tmp_path):
        # regression: _gc only globbed d* — superseded e* (MOR delta)
        # dirs were never removed, so MOR tables grew without bound
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"])
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "b", 0.5)]), keys=["k"])
        assert glob.glob(str(tmp_path / "t" / "e*"))
        cat.compact(spark, "t")  # deltas superseded (still in prev manifest)
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(3, "c", 0.5)]), keys=["k"])
        cat.compact(spark, "t")  # prev manifest no longer references old e-dirs
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(4, "d", 0.5)]), keys=["k"])
        # only the post-compaction delta survives; pre-compaction e-dirs are gone
        live = {os.path.basename(d) for d in glob.glob(str(tmp_path / "t" / "e*"))}
        assert live == set(cat._delta_entries("t"))
        assert _rows(cat.read(spark, "t")) == [
            (1, "a", 0.5), (2, "b", 0.5), (3, "c", 0.5), (4, "d", 0.5),
        ]

    def test_spec_conflicts_raise(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"])
        with pytest.raises(ValueError, match="mor spec"):
            cat.merge_upsert_mor(
                spark, "t", _mk(spark, [(2, "b", 0.5)]), keys=["k"], resolution="deterministic"
            )

    def test_incremental_delta_read(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"])
        v = cat.merge_upsert_mor(spark, "t", _mk(spark, [(2, "b", 0.5)]), keys=["k"])
        inc = cat.read_version_delta(spark, "t", v)
        assert _rows(inc) == [(2, "b", 0.5)]


class TestMorTombstones:
    def test_delete_hides_then_reinsert_resurrects(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"])
        cat.delete_keys_mor(spark, "t", spark.createDataFrame([(1,)], "k long"))
        assert _rows(cat.read(spark, "t")) == [(2, "b", 0.5)]
        # O(batch): the delete landed as a delta, base untouched
        assert len(cat._delta_entries("t")) == 1
        # a NEWER upsert of the same key beats the tombstone
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a2", 0.9)]), keys=["k"])
        assert _rows(cat.read(spark, "t")) == [(1, "a2", 0.9), (2, "b", 0.5)]

    def test_compact_purges_tombstones(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5), (2, "b", 0.5)]), keys=["k"])
        cat.delete_keys_mor(spark, "t", spark.createDataFrame([(2,)], "k long"))
        cat.compact(spark, "t")
        assert _rows(cat.read(spark, "t")) == [(1, "a", 0.5)]
        assert cat._delta_entries("t") == []
        assert "__del" not in cat.read(spark, "t").columns
        assert cat.count("t") == 1  # physically gone

    def test_rejects_deterministic_tables_and_bad_keys(self, spark, tmp_path):
        cat = ParquetCatalog(str(tmp_path))
        cat.merge_upsert_mor(
            spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"], resolution="deterministic"
        )
        with pytest.raises(ValueError, match="replace"):
            cat.delete_keys_mor(spark, "t", spark.createDataFrame([(1,)], "k long"))
        cat2 = ParquetCatalog(str(tmp_path / "r"))
        cat2.merge_upsert_mor(spark, "t", _mk(spark, [(1, "a", 0.5)]), keys=["k"])
        with pytest.raises(ValueError, match="exactly"):
            cat2.delete_keys_mor(spark, "t", spark.createDataFrame([("x",)], "val string"))
