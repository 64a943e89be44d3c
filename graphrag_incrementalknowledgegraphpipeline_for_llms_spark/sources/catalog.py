"""Storage catalog — the Iceberg seam.

The north rule targets Iceberg tables with ``MERGE INTO`` upserts and
snapshot-driven incremental reads.  The sandbox image ships no Iceberg
jars, so this module provides a parquet-backed catalog with the SAME
API shape: manifest-listed snapshot versions per table, an atomic
current pointer, O(batch) appends (new data dir + manifest entry, like
an Iceberg fast-append), ``merge_upsert_mor`` (= MERGE INTO with
``write.merge.mode=merge-on-read``: an O(batch) delta dir, resolved per
key at read time and folded by compaction — the graph tables' only
write; into an empty table it is one plain overwrite), ``merge_upsert``
(copy-on-write MERGE: dedup + anti-join + union, kept for the
non-incremental flat-table path and as the conformance reference), and
snapshot ids for checkpoint/lineage.  On a real cluster swap
:class:`ParquetCatalog` for an Iceberg catalog: each merge becomes a
single ``MERGE INTO`` statement and snapshots come from
Iceberg metadata — callers don't change.

MERGE semantics replicated from the reference's Neo4j sink
(storage/Neo4jSink.scala:138-225): insert-or-overwrite-all-props,
last-write-wins.  Iceberg MERGE errors on duplicate source keys, so
updates are deduped per batch with a deterministic tie-break
(SURVEY.md §7 risk list).

Swap recipe (real Iceberg runtime)
----------------------------------
The contract a replacement must satisfy is pinned executable in
tests/test_catalog_conformance.py, which is parameterized over
CATALOG_IMPLS — register the new factory there and the whole suite
re-runs against it.  The mapping:

1. **Session**: add the runtime jar + catalog conf::

       spark.jars.packages = org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
       spark.sql.extensions = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
       spark.sql.catalog.kg = org.apache.iceberg.spark.SparkCatalog
       spark.sql.catalog.kg.type = hadoop          # or hive/rest
       spark.sql.catalog.kg.warehouse = <root>

2. **DDL** (per table; unpartitioned — bucket transforms are not part
   of the swap contract, since no read path prunes by bucket and a
   graph batch touches every bucket)::

       CREATE TABLE kg.db.nodes (...) USING iceberg
       TBLPROPERTIES ('write.merge.mode'='merge-on-read')

3. **Method mapping**:

   ============================  =========================================
   this module                   Iceberg equivalent
   ============================  =========================================
   overwrite / append            df.writeTo(t).overwritePartitions() / .append()
   merge_upsert(keys, tb)        MERGE INTO t USING (deduped src) ON keys
                                 WHEN MATCHED THEN UPDATE SET *
                                 WHEN NOT MATCHED THEN INSERT *
                                 (KEEP the _winner_dedup pre-pass: Iceberg
                                 MERGE raises on duplicate source keys)
   merge_upsert_mor(keys, tb)    the same MERGE INTO on a table with
                                 'write.merge.mode'='merge-on-read'
   read_keys(keys)               SELECT DISTINCT <keys> FROM t
   maybe_compact / compaction    CALL kg.system.rewrite_data_files(t)
   read_as_of(v)                 SELECT ... VERSION AS OF <snapshot_id>
   is_append_version /           snapshot summary 'operation' == 'append' /
   read_version_delta            incremental read (start/end-snapshot-id)
   snapshot_diff(v1, v2, keys)   CALL kg.system.create_changelog_view(
                                 t, options => map('start-snapshot-id',
                                 v1, 'end-snapshot-id', v2)) — same four
                                 _change_type images
   expire_snapshots / _gc        CALL kg.system.expire_snapshots(t, ...)
                                 + remove_orphan_files
   current_version / snapshots   table.history() / .snapshots metadata
   ============================  =========================================

4. **Callers don't change**: the writers are ``plans.pipeline``
   (a cold build) and ``plans.refresh`` (each later batch: pipeline,
   ``maybe_compact`` and the stored analytics; the streaming sink and
   ``POST /v1/refresh`` both go through it), and they only touch the
   methods above; content_rid winner selection and the family-split
   pre-dedup stay (they implement the reference's LWW semantics, which
   Iceberg MERGE alone does not).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def content_rid(cols: list[str]):
    """128-bit content fingerprint of a row (two independently-seeded
    xxhash64 halves in a struct): a single 64-bit rid makes collisions
    statistically certain at the 10^12-row target, and a collision
    admits a LOSER row through the winner semi-join.  Field ordinals
    are interleaved so value-shifts between adjacent nullable columns
    can't collide.  This is THE residual tiebreak order for every
    winner selection in the engine — per-batch pre-dedups (e.g.
    graph.batch_edges) MUST use the same function, or max(max(A), B)
    under one order stops equaling max(A ∪ B) under the other and
    incremental runs diverge from full runs."""
    salted = []
    for i, c in enumerate(cols):
        salted += [F.lit(i), F.col(c)]
    return F.struct(
        F.xxhash64(F.lit(0), *salted).alias("h0"),
        F.xxhash64(F.lit(1), *salted).alias("h1"),
    )


def _winner_dedup(pool: DataFrame, keys: list[str], tb_exprs: list) -> DataFrame:
    """One winner row per key under the total order (tiebreaks..., rid).

    LATE MATERIALIZATION: an agg whose buffer holds the full row struct
    is not hash-aggregable — Spark plans a SortAggregate that SORTS
    every payload byte (measured: the 47M-row edge dedup at 600k pages
    sorted ~28 GB and dominated the pipeline).  Instead the agg runs
    over a NARROW projection (keys + tiebreaks + 8-byte rid) and the
    winner rows are fetched back by a semi-join on rid (AQE turns it
    into a broadcast join — the build side is just the winner rids)."""
    cols = pool.columns
    pool = pool.withColumn("_rid", content_rid(cols))
    # the pool feeds BOTH the narrow winner aggregate and the
    # rid semi-join fetch-back: lazily checkpoint it so the upstream
    # chain (stage-table read + explode + distinct for the pipeline's
    # node batch) executes once and the join side reads persisted
    # blocks; state is batch-sized (spills to local disk), never
    # table-sized
    pool = pool.localCheckpoint(eager=False)
    narrow = pool.select(
        *keys,
        F.col("_rid"),
        *[e.alias(f"_tb{i}") for i, e in enumerate(tb_exprs)],
    )
    okey = F.struct(*[F.col(f"_tb{i}") for i in range(len(tb_exprs))], F.col("_rid"))
    winners = narrow.groupBy(*keys).agg(F.max_by(F.col("_rid"), okey).alias("_rid"))
    return (
        pool.join(winners.select("_rid"), "_rid", "left_semi")
        # identical-content copies share a rid and all pass the
        # semi-join — collapse them
        .dropDuplicates(["_rid"])
        .drop("_rid")
        .select(*cols)
    )


class ParquetCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_current")

    def current_version(self, name: str) -> int:
        p = self._pointer(name)
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._tdir(name), f"m{version:05d}.json")

    def _manifest(self, name: str, version: int) -> list[str]:
        """The data dirs (relative to the table dir) of ``version``."""
        if version == 0:
            return []
        with open(self._manifest_path(name, version)) as f:
            return json.load(f)

    def data_dirs(self, name: str) -> list[str]:
        t = self._tdir(name)
        return [os.path.join(t, d) for d in self._manifest(name, self.current_version(name))]

    def _data_files(self, name: str) -> list[str]:
        return [
            f for d in self.data_dirs(name) for f in sorted(glob.glob(os.path.join(d, "*.parquet")))
        ]

    def exists(self, name: str) -> bool:
        return self.current_version(name) > 0

    # -- merge-on-read spec ---------------------------------------------------
    def _mor_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_mor.json")

    def mor_spec(self, name: str) -> dict | None:
        """{"keys": [...], "tiebreak": [...], "resolution": str} when
        the table takes merge-on-read deltas."""
        p = self._mor_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _delta_entries(self, name: str) -> list[str]:
        m = self._manifest(name, self.current_version(name))
        return [d for d in m if d.startswith("e")]

    def read(
        self, spark: SparkSession, name: str, merge_schema: bool = False
    ) -> DataFrame | None:
        """Current snapshot.  ``merge_schema=True`` unions the schemas
        of all data dirs (Iceberg-style add-column evolution: an append
        with new columns null-fills older rows).  Off by default — the
        merged-footer scan costs a metadata pass per read, and
        homogeneous tables (every table the pipeline writes) don't need
        it."""
        dirs = self.data_dirs(name)
        if not dirs:
            return None
        mor = self.mor_spec(name)
        deltas = self._delta_entries(name) if mor else []
        if not deltas:
            r = spark.read
            if merge_schema:
                r = r.option("mergeSchema", "true")
            return r.parquet(*dirs)
        return self._resolve_mor(spark, name, mor)

    def read_keys(self, spark: SparkSession, name: str, keys: list[str]) -> DataFrame | None:
        """The table's distinct key tuples, equal to
        ``read(...).select(*keys).distinct()``.  On a merge-on-read
        table with ``deterministic`` resolution every key of a base or
        delta row survives resolution (there are no tombstones), so
        this is a column-pruned scan of the key columns — no winner
        resolution, no payload bytes.  A ``replace`` table with deltas
        may hold tombstones and falls back to the resolved read."""
        dirs = self.data_dirs(name)
        if not dirs:
            return None
        mor = self.mor_spec(name)
        if mor and mor["resolution"] == "replace" and self._delta_entries(name):
            return self.read(spark, name).select(*keys).distinct()
        return spark.read.parquet(*dirs).select(*keys).distinct()

    def read_arrow(self, name: str, columns: list[str]):
        """Driver-side read of a small table into a pyarrow Table — no
        Spark job; the counterpart of :meth:`commit_rows` (checkpoints,
        lineage).  Plain tables only: merge-on-read deltas are not
        resolved.  None when the table does not exist."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = self._data_files(name)
        if not files:
            return None
        return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)

    def _resolve_mor(
        self, spark: SparkSession, name: str, mor: dict, manifest=None
    ) -> DataFrame:
        """Merge-on-read reconciliation: base rows + delta rows compete
        per key.  ``resolution="replace"`` orders primarily by delta
        sequence (base = 0), so the newest delta wins — last-write-wins
        across commits; ``"deterministic"`` ignores arrival order and
        ranks by (tiebreak..., rid) alone, so the resolved table is
        independent of how rows were split across delta batches."""
        t = self._tdir(name)
        m = (
            manifest
            if manifest is not None
            else self._manifest(name, self.current_version(name))
        )
        base = [d for d in m if not d.startswith("e")]
        deltas = [d for d in m if d.startswith("e")]
        parts = []
        if base:
            parts.append(
                spark.read.parquet(*[os.path.join(t, d) for d in base]).withColumn(
                    "_seq", F.lit(0)
                )
            )
        for d in deltas:
            seq = int(d[1:6])
            parts.append(
                spark.read.parquet(os.path.join(t, d)).withColumn("_seq", F.lit(seq))
            )
        # equality-delete tombstones: older parts predate the __del
        # column — default false
        parts = [
            p if "__del" in p.columns else p.withColumn("__del", F.lit(False))
            for p in parts
        ]
        pool = parts[0]
        for p in parts[1:]:
            pool = pool.unionByName(p)
        tb = [F.col(c) for c in mor.get("tiebreak", [])]
        cols = [c for c in pool.columns if c not in ("_seq", "__del")]
        if mor["resolution"] == "replace":
            won = _winner_dedup(pool, mor["keys"], [F.col("_seq")] + tb)
            return won.where(~F.col("__del")).select(*cols)
        # deterministic: arrival order must not influence the outcome —
        # drop _seq BEFORE hashing so an identical row in base and a
        # delta collapses to one rid instead of competing by sequence
        # (tombstones require replace resolution and can't appear here)
        return _winner_dedup(pool.drop("_seq", "__del"), mor["keys"], tb)

    def read_as_of(self, spark: SparkSession, name: str, version: int) -> DataFrame | None:
        """Time travel: the table exactly as snapshot ``version`` saw it
        (Iceberg ``VERSION AS OF``).  Works for any manifest the
        snapshot-retention policy still holds (see expire_snapshots);
        merge-on-read deltas present at that version are resolved with
        the same read-time rules as the current read."""
        if version < 1 or version > self.current_version(name):
            raise KeyError(f"table {name!r} has no snapshot {version}")
        m = self._manifest(name, version)
        if not m:
            return None
        mor = self.mor_spec(name)
        if mor and any(d.startswith("e") for d in m):
            return self._resolve_mor(spark, name, mor, manifest=m)
        return spark.read.parquet(*[os.path.join(self._tdir(name), d) for d in m])

    def is_append_version(self, name: str, version: int) -> bool:
        """True iff snapshot ``version`` only ADDED data dirs (a
        fast-append): every dir of version-1 is still referenced.  An
        overwrite/compact/merge drops or replaces dirs — its
        read_version_delta is a rewritten dir, NOT a row-level delta
        (incremental consumers must rebuild)."""
        return set(self._manifest(name, version - 1)) <= set(self._manifest(name, version))

    def read_version_delta(self, spark: SparkSession, name: str, version: int) -> DataFrame | None:
        """Rows ADDED by snapshot ``version`` (its newest data dir) —
        the incremental-read primitive (Iceberg: incremental scan
        between snapshots).  For an append commit this is exactly the
        appended batch."""
        prev = set(self._manifest(name, version - 1))
        new = [d for d in self._manifest(name, version) if d not in prev]
        if not new:
            return None
        return spark.read.parquet(*[os.path.join(self._tdir(name), d) for d in new])

    def snapshot_diff(
        self,
        spark: SparkSession,
        name: str,
        v_from: int,
        v_to: int,
        keys: list[str],
    ) -> DataFrame:
        """Row-level CDC changelog between two snapshots — the
        equivalent of Iceberg's ``create_changelog_view`` (and the
        swap target for it, see the module-docstring recipe): one row
        per logical change with a ``_change_type`` column in
        ``('insert', 'delete', 'update_before', 'update_after')``,
        Iceberg's four changelog images.  Works across ANY snapshot
        pair the retention policy still holds — unlike
        :meth:`read_version_delta` (append-dirs only) it compares
        LOGICAL states, so it is exact across overwrites, merges,
        compactions, and MOR deltas.  The feed an incremental
        downstream (IVM refresh, embedding re-index, cache
        invalidation) consumes after a batch of graph MERGEs.

        Scale shape: two time-travel reads + three key-partitioned
        equi-joins (insert/delete via anti-joins, updates via an
        inner join filtered on a row-content hash).  Row equality is
        an md5 over the sorted shared non-key columns with an explicit
        null bitmap (to_json drops
        null fields; the bitmap keeps NULL ≠ 'null-shaped absence').
        Schema evolution: output carries the UNION of both versions'
        columns (null-filled), so a diff across an add-column commit
        is well-formed.  ``keys`` must identify rows uniquely on both
        sides (the invariant every MERGE-maintained table holds); on
        a table with duplicate keys the update images multiply
        per-pair — run the diff on the keyed tables, not raw appends."""
        a = self.read_as_of(spark, name, v_from)
        b = self.read_as_of(spark, name, v_to)
        if a is None and b is None:
            raise KeyError(f"table {name!r}: both snapshots are empty")
        if a is None:
            return b.select(
                F.lit("insert").alias("_change_type"), "*"
            ).orderBy(*keys)
        if b is None:
            return a.select(
                F.lit("delete").alias("_change_type"), "*"
            ).orderBy(*keys)
        all_cols = list(dict.fromkeys(a.columns + b.columns))
        for c in all_cols:
            if c not in a.columns:
                a = a.withColumn(c, F.lit(None).cast(dict(b.dtypes)[c]))
            if c not in b.columns:
                b = b.withColumn(c, F.lit(None).cast(dict(a.dtypes)[c]))
        a, b = a.select(*all_cols), b.select(*all_cols)
        cmp_cols = sorted(c for c in all_cols if c not in keys)
        if not cmp_cols:
            # keys-only table (e.g. a bare edge set): rows are identical
            # iff the key exists on both sides — no update images possible
            inserts = b.join(a, keys, "left_anti").select(
                F.lit("insert").alias("_change_type"), "*"
            )
            deletes = a.join(b, keys, "left_anti").select(
                F.lit("delete").alias("_change_type"), "*"
            )
            return inserts.unionByName(deletes).orderBy(*keys, "_change_type")

        def _rh(df):
            bitmap = F.concat_ws(
                "", *[F.col(c).isNull().cast("int").cast("string") for c in cmp_cols]
            )
            return df.withColumn(
                "_rh",
                F.md5(
                    F.concat_ws(
                        "\x1f", bitmap, F.to_json(F.struct(*cmp_cols))
                    )
                ),
            )
        ah, bh = _rh(a), _rh(b)
        inserts = b.join(a.select(*keys), keys, "left_anti").select(
            F.lit("insert").alias("_change_type"), "*"
        )
        deletes = a.join(b.select(*keys), keys, "left_anti").select(
            F.lit("delete").alias("_change_type"), "*"
        )
        changed_keys = (
            ah.select(*keys, "_rh")
            .join(
                bh.select(*keys, F.col("_rh").alias("_rh2")), keys
            )
            .where(F.col("_rh") != F.col("_rh2"))
            .select(*keys)
        )
        upd_before = a.join(changed_keys, keys).select(
            F.lit("update_before").alias("_change_type"), "*"
        )
        upd_after = b.join(changed_keys, keys).select(
            F.lit("update_after").alias("_change_type"), "*"
        )
        return (
            inserts.unionByName(deletes)
            .unionByName(upd_before)
            .unionByName(upd_after)
            .orderBy(*keys, "_change_type")
        )

    def snapshot_history(
        self,
        spark: SparkSession,
        name: str,
        keys: list[str],
        max_back: int = 10,
    ) -> list[dict]:
        """Operational evolution panel: for each retained snapshot the
        row-level CDC counts of what that commit DID —
        ``{"version", "insert", "delete", "update"}``, newest first
        (Iceberg's ``table.history()`` + changelog counts in one
        call).  Pairs whose compare base fell out of dir retention are
        reported as ``{"version", "expired": True}`` instead of
        failing the panel: append-only and MOR-delta tables keep
        their full dir history (GC removes only superseded dirs), so
        the chain is complete there; CoW rewrites retain the last
        pair only — the honest observability bound of the layout.
        Version 1 is reported as all-insert from its snapshot count.

        The lineage table says what a batch was; this says what it
        CHANGED — the pair a pipeline operator reads after a refresh.
        Driver-side cost: one bounded compare per listed version
        (``max_back`` caps the walk)."""
        from pyspark.errors import AnalysisException

        cur = self.current_version(name)
        out: list[dict] = []
        for v in range(cur, max(0, cur - max_back), -1):
            row: dict = {"version": v}
            try:
                if v == 1:
                    base = self.read_as_of(spark, name, 1)
                    row.update(
                        insert=base.count() if base is not None else 0,
                        delete=0,
                        update=0,
                    )
                else:
                    counts = {
                        r["_change_type"]: r["n"]
                        for r in self.snapshot_diff(spark, name, v - 1, v, keys)
                        .groupBy("_change_type")
                        .agg(F.count(F.lit(1)).alias("n"))
                        .collect()
                    }
                    row.update(
                        insert=counts.get("insert", 0),
                        delete=counts.get("delete", 0),
                        update=counts.get("update_after", 0),
                    )
            except (AnalysisException, KeyError, FileNotFoundError, OSError):
                row["expired"] = True
            out.append(row)
        return out

    def count(self, name: str) -> int:
        """Row count from parquet footers — no Spark job.  PHYSICAL
        rows: on a merge-on-read table with unresolved deltas this
        counts superseded versions too; use ``read(...).count()`` for
        the logical count, or compact first."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in self._data_files(name))

    def _commit(self, name: str, df: DataFrame, mode: str = "overwrite", prefix: str = "d") -> int:
        """Write a new data dir, record a new manifest, atomically flip
        the pointer.  ``append`` keeps prior data dirs (O(batch));
        ``overwrite`` supersedes them.  ``prefix="e"`` marks the dir as
        a merge-on-read delta (resolved by read, folded by compact)."""
        cur = self.current_version(name)
        v = cur + 1
        ddir = f"{prefix}{v:05d}"
        out = os.path.join(self._tdir(name), ddir)
        df.write.mode("overwrite").parquet(out)
        prev = self._manifest(name, cur) if mode == "append" else []
        manifest = prev + [ddir]
        os.makedirs(self._tdir(name), exist_ok=True)
        with open(self._manifest_path(name, v), "w") as f:
            json.dump(manifest, f)
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer(name))
        self._gc(name, manifest, cur)
        return v

    def _gc(self, name: str, manifest, cur: int) -> None:
        # retain only dirs referenced by the current or previous
        # manifest (Iceberg: expire_snapshots).  Glob BOTH data-dir
        # prefixes: base dirs are d*, merge-on-read delta dirs are e*
        # — once compact()/overwrite supersedes a delta it must be
        # expired like any other dir or MOR tables grow unboundedly.
        keep = set(manifest) | set(self._manifest(name, cur))
        for d in glob.glob(os.path.join(self._tdir(name), "[de]*")):
            if os.path.basename(d) not in keep:
                shutil.rmtree(d, ignore_errors=True)

    @staticmethod
    def _apply_sort(df: DataFrame, sort_cols: list[str] | None) -> DataFrame:
        """Write sort order (Iceberg ``write.sort-order`` analog):
        range-partition + sort by the columns so each output file's
        row-group min/max spans a narrow, mostly disjoint value range.
        Parquet readers then skip whole row groups on range predicates
        — the data-skipping layer on top of partition pruning.  Costs
        one range-exchange at write time; worth it for tables queried
        by time/key ranges (events, snapshots)."""
        if not sort_cols:
            return df
        n = df.sparkSession.sparkContext.defaultParallelism
        cols = [F.col(c) for c in sort_cols]
        return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)

    def overwrite(self, df: DataFrame, name: str, sort_cols: list[str] | None = None) -> int:
        return self._commit(name, self._apply_sort(df, sort_cols), mode="overwrite")

    def commit_rows(self, name: str, rows: list[dict], schema, mode: str = "append") -> int:
        """Driver-side commit of a SMALL row set (lineage, checkpoints)
        via pyarrow — zero Spark jobs.  ``schema`` is a pyarrow schema.
        The files remain ordinary table data dirs, readable by
        ``read()`` like any snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cur = self.current_version(name)
        if cur == 0:
            mode = "overwrite"
        v = cur + 1
        ddir = f"d{v:05d}"
        out = os.path.join(self._tdir(name), ddir)
        os.makedirs(out, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(table, os.path.join(out, "part-00000.parquet"))
        prev = self._manifest(name, cur) if mode == "append" else []
        with open(self._manifest_path(name, v), "w") as f:
            json.dump(prev + [ddir], f)
        tmp = self._pointer(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer(name))
        return v

    # -- row-level DELETE (Iceberg DELETE FROM, copy-on-write) ----------------
    def delete_keys(self, spark: SparkSession, name: str, keys_df: DataFrame) -> int:
        """Key-based delete: remove rows whose key columns match any
        row of ``keys_df`` — an anti-join rewrite of the table."""
        df = self.read(spark, name)
        if df is None:
            raise KeyError(f"no such table: {name!r}")
        kept = df.join(keys_df, on=keys_df.columns, how="left_anti")
        return self._commit(name, kept, mode="overwrite")

    # -- maintenance (Iceberg: rewrite_data_files / expire_snapshots) ---------
    def compact(self, spark: SparkSession, name: str) -> int:
        """Rewrite the current snapshot into one consolidated data dir.
        Incremental appends and merge-on-read deltas accumulate one dir
        per batch; at 100 TB this is the periodic rewrite_data_files
        job that restores large scan splits.  Readers are unaffected:
        the pointer flips atomically and the previous snapshot's dirs
        are retained until the next commit's GC."""
        df = self.read(spark, name)
        if df is None:
            return 0
        return self._commit(name, df, mode="overwrite")

    def maybe_compact(
        self, spark: SparkSession, name: str, max_deltas: int = 16
    ) -> int | None:
        """Compact ``name`` iff its unresolved merge-on-read delta
        count exceeds ``max_deltas`` — the bound that keeps read-time
        winner resolution from degrading as small batches accumulate
        (each delta adds a scan input + rows to the resolution
        shuffle).  Returns the new snapshot version, or None when under
        the bound.  ``plans.refresh.refresh_after_batch`` calls this
        per batch: amortized cost is one rewrite every ``max_deltas``
        batches, i.e. the classic LSM-style compaction cadence."""
        if len(self._delta_entries(name)) <= max_deltas:
            return None
        return self.compact(spark, name)

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[int]:
        """Drop manifests older than the newest ``keep_last`` versions
        (data dirs they exclusively referenced are already GC'd by
        commits).  keep_last >= 2 preserves read_version_delta for the
        current snapshot."""
        cur = self.current_version(name)
        removed = []
        for f in glob.glob(os.path.join(self._tdir(name), "m*.json")):
            v = int(os.path.basename(f)[1:6])
            if v <= cur - keep_last:
                os.remove(f)
                removed.append(v)
        return sorted(removed)

    def append(
        self, spark: SparkSession, df: DataFrame, name: str, sort_cols: list[str] | None = None
    ) -> int:
        df = self._apply_sort(df, sort_cols)
        if not self.exists(name):
            return self._commit(name, df, mode="overwrite")
        return self._commit(name, df, mode="append")

    # -- MERGE INTO emulation, merge-on-read mode -----------------------------
    def merge_upsert_mor(
        self,
        spark: SparkSession,
        name: str,
        updates: DataFrame,
        keys: list[str],
        tiebreak: list[str] | None = None,
        resolution: str = "replace",
        assume_unique: bool = False,
    ) -> int:
        """Merge-on-read MERGE: the batch is written as a DELTA dir in
        O(batch) — no base data is read or rewritten (Iceberg's
        ``write.merge.mode=merge-on-read`` analog; the copy-on-write
        path is :meth:`merge_upsert`).  Into an empty table the batch
        is the base: one plain overwrite commit.  ``read`` reconciles
        base and deltas per key at scan time; :meth:`compact` folds
        deltas back into the base (the periodic rewrite job).

        ``assume_unique``: skip the within-batch winner selection when
        the caller guarantees key-unique updates (e.g. the pipeline's
        pre-deduped edge batch) — a write-side optimization only; even
        if violated, read-time resolution still picks one winner per
        key under the spec's total order.

        Trade: writes are O(batch) regardless of table size — the
        incremental-ingest win — while reads pay a winner-resolution
        shuffle until compaction (``maybe_compact`` bounds the delta
        count).

        ``tiebreak`` must be column NAMES here (they are persisted in
        ``_mor.json`` for read-time resolution).  ``resolution`` as in
        :meth:`merge_upsert`; with ``"replace"``, newer deltas beat
        older deltas beat base (last-write-wins across commits)."""
        tiebreak = list(tiebreak or [])
        if not all(isinstance(t, str) for t in tiebreak):
            raise TypeError("merge_upsert_mor tiebreaks must be column names")
        spec = {"keys": list(keys), "tiebreak": tiebreak, "resolution": resolution}
        prev = self.mor_spec(name)
        if prev is None:
            os.makedirs(self._tdir(name), exist_ok=True)
            with open(self._mor_path(name), "w") as f:
                json.dump(spec, f)
        elif prev != spec:
            raise ValueError(
                f"table {name!r} has mor spec {prev}; a merge with {spec} "
                "would change read-time resolution semantics"
            )
        # within-batch dedup only (Iceberg MERGE errors on duplicate
        # source keys; we resolve them deterministically instead)
        if assume_unique:
            deduped = updates
        else:
            deduped = _winner_dedup(updates, list(keys), [F.col(t) for t in tiebreak])
        if not self.exists(name):
            return self._commit(name, deduped, mode="overwrite")
        return self._commit(name, deduped, mode="append", prefix="e")

    def delete_keys_mor(self, spark: SparkSession, name: str, keys_df: DataFrame) -> int:
        """Merge-on-read equality delete: an O(batch) tombstone delta
        (Iceberg equality-delete analog).  ``read`` hides tombstoned
        keys at resolution time; ``compact`` purges them physically.
        Requires ``resolution="replace"`` (a tombstone must beat older
        data by arrival order; deterministic resolution has no arrival
        order).  A later upsert of the same key beats the tombstone —
        delete-then-reinsert works."""
        mor = self.mor_spec(name)
        if mor is None or not self.exists(name):
            raise KeyError(f"table {name!r} is not a merge-on-read table")
        if mor["resolution"] != "replace":
            raise ValueError(
                "tombstone deletes need resolution='replace'; deterministic "
                "resolution has no arrival order for a tombstone to win by"
            )
        if sorted(keys_df.columns) != sorted(mor["keys"]):
            raise ValueError(f"delete keys must be exactly {mor['keys']}")
        base_schema = self.read(spark, name).schema
        cols = []
        for f in base_schema.fields:
            if f.name in mor["keys"]:
                cols.append(F.col(f.name))
            elif f.name == "__del":
                continue
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        tomb = keys_df.select(*cols).withColumn("__del", F.lit(True))
        return self._commit(name, tomb, mode="append", prefix="e")

    # -- MERGE INTO emulation, copy-on-write mode -----------------------------
    def merge_upsert(
        self,
        spark: SparkSession,
        name: str,
        updates: DataFrame,
        keys: list[str],
        tiebreak: list[str] | None = None,
        resolution: str = "replace",
    ) -> int:
        """``MERGE INTO name t USING updates s ON <keys> WHEN MATCHED
        THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``, rewriting
        the table (copy-on-write).  The pipeline's non-incremental
        ``mentions``/``triples`` writes use it; the graph tables merge
        on read (:meth:`merge_upsert_mor`).

        ``tiebreak``: column names OR Column expressions that lead the
        winner ordering when a batch contains duplicate keys
        (deterministic last-write-wins stand-in; max wins, so e.g.
        highest confidence).  Remaining ties break by the row's content
        hash — any fixed total order works.

        ``resolution``:
        * ``"replace"`` — true MERGE: a matched source row replaces the
          target row (the reference's last-write-wins,
          Neo4jSink.scala:138-164).
        * ``"deterministic"`` — existing matched rows compete with the
          updates under the SAME total order, so the final table is
          independent of how rows were split across incremental
          batches (run(A);run(B) == run(A∪B) — FIXTURES.md §6).
        """
        existing = self.read(spark, name)
        pool = updates
        if resolution == "deterministic" and existing is not None:
            matched = existing.join(updates.select(*keys).distinct(), on=keys, how="left_semi")
            pool = updates.unionByName(matched.select(*updates.columns))
        # winner per key = max_by over (tiebreak..., _rid): a total
        # order (rid = content hash stands in for the full row as the
        # final tiebreak), so batch-split independent and stable across
        # runs.  See _winner_dedup for the late-materialization shape.
        tb_exprs = [F.col(t) if isinstance(t, str) else t for t in (tiebreak or [])]
        deduped = _winner_dedup(pool, keys, tb_exprs)
        if existing is None:
            return self._commit(name, deduped)
        kept = existing.join(deduped.select(*keys).distinct(), on=keys, how="left_anti")
        # the USING-join reorders key columns to the front — restore the
        # table's schema order so snapshots keep a stable column layout
        merged = kept.select(*existing.columns).unionByName(deduped.select(*existing.columns))
        return self._commit(name, merged)
