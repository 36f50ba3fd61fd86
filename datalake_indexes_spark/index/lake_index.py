"""LakeIndex — the engine's index tables as DataFrames.

Replaces the reference's PostgreSQL tables (``maco/data_handler.py:33-54``)
with six persisted members (``LakeIndex._MEMBERS``):

- ``cells``          (table_id int, col_id int, row_id long, tokenized string)
- ``row_keys``       (table_id int, row_id long, super_key_hi long, super_key_lo long)
- ``column_headers`` (table_id int, col_id int, header string, header_tokenized string)
- ``table_info``     (table_id int, dataset_name string, max_row_id long, max_col_id int)
- ``col_flags``      optional — per-column numeric-ness (data_handler.py:50 is_numeric)
- ``token_stats``    optional — (tokenized, cnt) of the hottest posting lists

The reference denormalizes the 128-bit super key onto every cell row
(data_handler.py:296-303); we keep it normalized per row in ``row_keys`` —
cells stay narrow for scan speed and the key joins back on (table_id, row_id)
when MATE needs it.  The denormalized ``cells_keyed`` view is an in-memory
extra only: it is cached, released and viewed with the index but never
persisted.

Physical layout for scale (see ``save``): ``cells`` is written partitioned by
``table_id`` and sorted by ``tokenized`` within each partition, so (a)
row-fetch probes prune partitions and (b) token probes prune parquet row
groups via min/max stats — this is the Spark replacement for the reference's
two B-trees (data_handler.py:205-230).
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from dataclasses import MISSING, dataclass, fields

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stage_swap(df: DataFrame, mpath: str) -> None:
    """Crash-safe member rewrite: write to a staging dir (this executes
    the plan, which may read the old files), rename the old dir aside,
    publish, drop the backup — the same rename-aside discipline the
    streaming sink's migrate_legacy uses, so no crash point loses data."""
    tmp, backup = mpath + ".__upserting", mpath + ".__old"
    for stale in (tmp, backup):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(mpath, backup)
    os.rename(tmp, mpath)
    shutil.rmtree(backup)


@dataclass
class LakeIndex:
    cells: DataFrame
    row_keys: DataFrame
    column_headers: DataFrame
    table_info: DataFrame
    # cocoa_index precompute (data_handler.py:50 is_numeric): per-column
    # numeric-ness, computed once at index time so query-time correlation
    # never re-aggregates the lake for it
    col_flags: DataFrame | None = None
    # optional denormalized view: cells + (super_key_hi, super_key_lo) per
    # row — the reference's physical layout (data_handler.py:296-303).
    # MATE's posting fetch uses it when present so the hit set (which can
    # be an order of magnitude larger than the lake) never joins row_keys
    cells_keyed: DataFrame | None = None
    # optional index-time statistic: (tokenized, cnt) for the hottest
    # posting lists — MATE's non-broadcast probe salts exactly these keys
    # apart instead of re-scanning the lake per query (operators/mate.py
    # salted_probe_join); built by token_stats_for / build_index(
    # with_token_stats=True), persisted with the index
    token_stats: DataFrame | None = None
    # the one lake-sized frame every member derives from, when the builder
    # left it lazy (build_index); not a field — set by the builder, held by
    # the writers (_shared_held) and released by uncache()
    _shared_keyed = None
    # frames a builder persisted on the way to the members (folder ingest,
    # the testdata index); not a field — released by uncache()
    _staging_frames = ()
    # query-independent results memoized per instance (not fields): MATE's
    # hot-token list ((threshold, cap), tokens) and the duplicate-table
    # relation edges (operators/duplicates.py get_relations, a
    # driver-built frame)
    _hot_tokens = None
    _relations = None

    # the persisted members, in write order — the one list every writer,
    # loader, cache and view iterates.  The first two are the row members
    # (partitioned by table_id on disk); a member whose dataclass default
    # is None is optional.  cells_keyed is in-memory only.
    _MEMBERS = (
        "cells", "row_keys", "column_headers", "table_info", "col_flags",
        "token_stats",
    )
    _ROW_MEMBERS = _MEMBERS[:2]
    _CURRENT = "_CURRENT"
    _VERSIONS = "_versions"

    @contextmanager
    def _shared_held(self):
        """Hold the shared keyed frame persisted while a writer runs its
        member writes, so the lake is scanned and tokenized once for all
        of them; released on exit (the lazy index still recomputes from
        its lineage).  A frame someone already persists is left alone."""
        df = self._shared_keyed
        held = df is not None and df.storageLevel == StorageLevel.NONE
        if held:
            df.persist()
        try:
            yield
        finally:
            if held:
                df.unpersist()

    def _frames(self) -> dict[str, DataFrame]:
        """The members that are set, by name, plus the in-memory
        ``cells_keyed`` view when present."""
        return {
            name: df
            for name in (*self._MEMBERS, "cells_keyed")
            if (df := getattr(self, name)) is not None
        }

    def cache(self) -> "LakeIndex":
        for name, df in self._frames().items():
            setattr(self, name, df.cache())
        return self

    def uncache(self) -> "LakeIndex":
        """Release every member plus the frames a builder registered
        (``_shared_keyed``, ``_staging_frames``) — unpersist is a no-op on
        frames that were never cached, so this is always safe to call."""
        for df in (*self._frames().values(), self._shared_keyed, *self._staging_frames):
            if df is not None:
                df.unpersist()
        return self

    def get_table(self, table_id: int) -> DataFrame:
        """S10 — reconstruct a table from the cell index, reapplying its
        stored headers as column names (the reference re-labels the pivot
        with the saved headers, maco/data_handler.py:679-685).

        The header fetch is a per-table metadata read (≤ max_col_id rows)
        — driver-side schema work, same category as Spark's own pivot
        value resolution; the data pivot itself stays distributed.  Null/
        empty headers fall back to ``col_<i>``; duplicated header names
        get a ``_<col_id>`` suffix so the result schema stays valid."""
        from pyspark.sql import functions as F

        hdr_rows = sorted(
            (r["col_id"], r["header"])
            for r in self.column_headers.filter(
                F.col("table_id") == table_id
            ).collect()
        )
        names: list[tuple[int, str]] = []
        seen: set[str] = set()
        for cid, hdr in hdr_rows:
            name = hdr if hdr else f"col_{cid}"
            if name in seen:
                name = f"{name}_{cid}"
            seen.add(name)
            names.append((cid, name))
        cells = self.cells.filter(F.col("table_id") == table_id)
        return (
            cells.groupBy("row_id")
            .pivot("col_id", [cid for cid, _ in names])
            .agg(F.first("tokenized"))
            .select(
                "row_id", *[F.col(str(cid)).alias(nm) for cid, nm in names]
            )
        )

    def keyed_cells(self) -> DataFrame:
        """Cells with per-row super keys: the materialized view when built,
        else the join (one co-keyed lake-sized join, still far cheaper than
        joining an exploded hit set against row_keys)."""
        if self.cells_keyed is not None:
            return self.cells_keyed
        return self.cells.join(self.row_keys, ["table_id", "row_id"])

    def _write_row_members(self, root: str, mode: str, **options) -> None:
        """``cells`` (sorted by token within each table partition) and
        ``row_keys``, both partitioned by ``table_id``."""
        cells = self.cells.repartition("table_id").sortWithinPartitions("tokenized")
        for name, df in (("cells", cells), ("row_keys", self.row_keys)):
            df.write.mode(mode).options(**options).partitionBy("table_id").parquet(
                os.path.join(root, name)
            )

    def _write_members(self, root: str, mode: str = "overwrite") -> None:
        """Write every member that is set; an overwrite also removes an
        optional member this index lacks, so ``load`` cannot pick up one
        left by an earlier save to ``root``."""
        with self._shared_held():
            self._write_row_members(root, mode)
            for name in self._MEMBERS[len(self._ROW_MEMBERS):]:
                df, mpath = getattr(self, name), os.path.join(root, name)
                if df is not None:
                    df.write.mode(mode).parquet(mpath)
                elif mode == "overwrite":
                    shutil.rmtree(mpath, ignore_errors=True)

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Materialize the index (S7/S8 — replaces COPY + B-tree builds).

        Non-transactional direct layout; see :meth:`save_version` for the
        snapshot-atomic sink and :meth:`save_bucketed` for the
        cluster-scale bucketed layout.
        """
        self._write_members(path, mode)

    def save_bucketed(
        self,
        table_prefix: str,
        path: str | None = None,
        n_buckets: int = 64,
    ) -> None:
        """S8 at cluster scale — catalog tables with co-location metadata:

        - ``cells`` bucketed AND sorted by ``tokenized``: the MATE/COCOA
          posting probe (``cells ⋈ input on tokenized``) reads each bucket
          pre-hashed, so the lake side of the join needs NO Exchange — only
          the (much smaller) probe side shuffles to the bucket count.  At
          100 TB that is the difference between shuffling the whole lake
          per query and shuffling kilobytes.
        - ``row_keys`` bucketed by ``(table_id, row_id)`` for the row
          verification join, same reasoning.
        - every other member that is set: one plain catalog table each;
          the table of a member this index lacks is dropped, so
          :meth:`load_bucketed` cannot open one left by an earlier save.

        ``bucketBy`` requires the table catalog (``saveAsTable``) — plain
        path writes cannot carry bucket metadata; pass ``path`` to pin the
        files to an external location.  Load with :meth:`load_bucketed`.
        """
        spark = self.cells.sparkSession
        bucket_cols = {"cells": ["tokenized"], "row_keys": ["table_id", "row_id"]}
        with self._shared_held():
            for name in self._MEMBERS:
                df = getattr(self, name)
                spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_{name}")
                if df is None:
                    continue
                writer = df.write.mode("overwrite").format("parquet")
                if name in bucket_cols:
                    cols = bucket_cols[name]
                    writer = writer.bucketBy(n_buckets, *cols).sortBy(*cols)
                if path is not None:
                    writer = writer.option("path", os.path.join(path, name))
                writer.saveAsTable(f"{table_prefix}_{name}")

    @classmethod
    def _replace_tables(
        cls, spark: SparkSession, path: str, ids: list[int], delta: "LakeIndex | None" = None
    ) -> None:
        """The one MERGE of a :meth:`save` layout: the tables ``ids`` are
        replaced by ``delta``'s rows, or dropped when there is no delta.

        - ``token_stats`` (when saved): its tracked counts move by one
          signed count per token — −1 per cell of the replaced partitions
          (read via partition pruning), +1 per delta cell.  Runs first: it
          reads the partitions the row write below replaces.  Tokens that
          become hot only through a delta are not discovered (the stats
          are a truncated top-N); a rebuild rehydrates them.
        - row members: Spark dynamic partition overwrite
          (``partitionOverwriteMode=dynamic`` as a per-write option, no
          session conf mutation) replaces exactly the delta's partitions,
          keeping the save layout; with no delta the partition
          directories are removed outright.
        - per-table metadata members: the old rows without ``ids`` plus
          the delta's, published by :func:`_stage_swap` so a crash never
          leaves a half-merged member.  A member the layout or the delta
          lacks is left untouched.
        """
        stats_path = os.path.join(path, "token_stats")
        if os.path.isdir(stats_path):
            replaced = spark.read.parquet(os.path.join(path, "cells")).filter(
                F.col("table_id").isin(ids)
            )
            signed = replaced.select("tokenized", F.lit(-1).alias("__d"))
            if delta is not None:
                signed = signed.unionByName(delta.cells.select("tokenized", F.lit(1).alias("__d")))
            change = signed.groupBy("tokenized").agg(F.sum("__d").alias("__d"))
            new_stats = (
                spark.read.parquet(stats_path)
                .join(change, "tokenized", "left")
                .select("tokenized", (F.col("cnt") + F.coalesce("__d", F.lit(0))).alias("cnt"))
                .filter(F.col("cnt") > 0)
            )
            _stage_swap(new_stats, stats_path)

        if delta is not None:
            delta._write_row_members(path, "overwrite", partitionOverwriteMode="dynamic")
        else:
            for name in cls._ROW_MEMBERS:
                for tid in ids:
                    shutil.rmtree(os.path.join(path, name, f"table_id={tid}"), ignore_errors=True)

        for name in cls._MEMBERS:
            mpath = os.path.join(path, name)
            new = None if delta is None else getattr(delta, name)
            merged_above = name in cls._ROW_MEMBERS or mpath == stats_path
            if merged_above or not os.path.isdir(mpath) or (delta is not None and new is None):
                continue
            kept = spark.read.parquet(mpath).filter(~F.col("table_id").isin(ids))
            _stage_swap(kept if new is None else kept.unionByName(new.select(*kept.columns)), mpath)

    def upsert_into(self, path: str) -> list[int]:
        """Partition-level MERGE of this (delta) index into a
        :meth:`save` layout: ONLY the ``table_id`` partitions present in
        the delta are rewritten — changed/new tables land, every other
        table's files are untouched.  Returns the upserted table ids.

        This is the maintenance path between per-batch streaming appends
        (:mod:`..streaming.incremental`) and full rebuilds: re-ingesting
        one changed lake table costs one table's write, not a lake
        rewrite.  At 100 TB the distinction is the whole game — a daily
        1% table churn becomes 1% of the write volume.

        One merge, two entry points: this and :meth:`delete_tables` both
        run :meth:`_replace_tables` (here with this index as the delta),
        which documents the per-member mechanics.
        """
        if self.current_version(path) is not None:
            raise ValueError(
                "upsert_into targets the direct save() layout; versioned "
                "indexes take whole snapshots via save_version()"
            )
        with self._shared_held():
            ids = [r.table_id for r in self.table_info.select("table_id").distinct().collect()]
            if ids:
                self._replace_tables(self.cells.sparkSession, path, ids, self)
            return ids

    @classmethod
    def delete_tables(cls, spark: SparkSession, path: str, ids: list[int]) -> None:
        """The DELETE half of the MERGE surface: drop the given tables
        from a :meth:`save` layout — partition directories removed
        outright (no rewrite of surviving data), metadata members
        filtered via stage-and-swap, tracked token counts decremented.
        The same merge as :meth:`upsert_into`, with no delta."""
        if cls.current_version(path) is not None:
            raise ValueError("delete_tables targets the direct save() layout")
        if ids:
            cls._replace_tables(spark, path, ids)

    @classmethod
    def load_bucketed(cls, spark: SparkSession, table_prefix: str) -> "LakeIndex":
        """Open a :meth:`save_bucketed` index — members come from the table
        catalog so joins see the bucket metadata (``spark.read.parquet`` on
        the same files would silently lose it)."""
        tables = {name: f"{table_prefix}_{name}" for name in cls._MEMBERS}
        return cls(**{
            name: spark.table(t) if spark.catalog.tableExists(t) else None
            for name, t in tables.items()
        })

    # ------------------------------------------------------------------
    # Transactional snapshot sink: full rewrites land in a fresh
    # `_versions/v<N>` directory and become visible only when the tiny
    # `_CURRENT` pointer file is atomically replaced (rename on a POSIX
    # filesystem; use a conditional put on an object store).  A writer
    # crash before the flip leaves the live version untouched; concurrent
    # readers keep resolving the old snapshot they opened.
    # ------------------------------------------------------------------

    def save_version(self, path: str) -> int:
        """Write a new snapshot and atomically flip ``_CURRENT`` to it.
        Returns the committed version number."""
        os.makedirs(os.path.join(path, self._VERSIONS), exist_ok=True)
        existing = [
            int(d[1:])
            for d in os.listdir(os.path.join(path, self._VERSIONS))
            if d.startswith("v") and d[1:].isdigit()
        ]
        version = max(existing, default=-1) + 1
        root = os.path.join(path, self._VERSIONS, f"v{version}")
        self._write_members(root)
        tmp = os.path.join(path, f".{self._CURRENT}.tmp.{version}")
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, os.path.join(path, self._CURRENT))  # the commit
        return version

    @classmethod
    def diff_versions(
        cls, spark: SparkSession, path: str, v_from: int, v_to: int
    ) -> DataFrame:
        """Snapshot diff between two committed versions — the time-travel
        audit surface next to :meth:`save_version`/:meth:`vacuum`:
        (table_id, change, cells_from, cells_to) with change ∈
        {added, removed, modified}, per table whose cell set differs.

        "Modified" is detected by an order-independent content
        fingerprint (count + sum of xxhash64 over the cell tuple), not
        by count alone — a same-size edit still shows up.  One aggregate
        per snapshot keyed by table_id; nothing is collected beyond the
        per-table diff rows."""
        def _summary(version: int, suffix: str) -> DataFrame:
            idx = cls.load(spark, path, version=version)
            return idx.cells.groupBy("table_id").agg(
                F.count(F.lit(1)).alias(f"cells_{suffix}"),
                F.sum(
                    F.xxhash64("col_id", "row_id", "tokenized")
                ).alias(f"__fp_{suffix}"),
            )

        a = _summary(v_from, "from")
        b = _summary(v_to, "to")
        joined = a.join(b, "table_id", "full_outer")
        change = (
            F.when(F.col("cells_from").isNull(), F.lit("added"))
            .when(F.col("cells_to").isNull(), F.lit("removed"))
            .when(
                (F.col("cells_from") != F.col("cells_to"))
                | (F.col("__fp_from") != F.col("__fp_to")),
                F.lit("modified"),
            )
        )
        return (
            joined.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(
                "table_id",
                "change",
                F.coalesce("cells_from", F.lit(0)).alias("cells_from"),
                F.coalesce("cells_to", F.lit(0)).alias("cells_to"),
            )
        )

    @classmethod
    def diff_rows(
        cls,
        spark: SparkSession,
        path: str,
        v_from: int,
        v_to: int,
        table_id: int | None = None,
    ) -> DataFrame:
        """Row-level snapshot diff — the drill-down under
        :meth:`diff_versions` (which reports WHICH tables changed, this
        reports the exact cells): (change ∈ {added, removed}, table_id,
        col_id, row_id, tokenized) for every cell present in one
        snapshot but not the other.

        Two hash anti-joins on the full cell tuple — co-keyed, skew
        follows the cell distribution (uniform), no collect.  Pass
        ``table_id`` to prune both scans to one table's partition
        (the usual flow: diff_versions finds the changed table,
        diff_rows shows its edits)."""
        a = cls.load(spark, path, version=v_from).cells
        b = cls.load(spark, path, version=v_to).cells
        if table_id is not None:
            a = a.filter(F.col("table_id") == table_id)
            b = b.filter(F.col("table_id") == table_id)
        cols = ["table_id", "col_id", "row_id", "tokenized"]

        def _anti(left: DataFrame, right: DataFrame) -> DataFrame:
            # null-safe tuple equality: a NULL tokenized present in BOTH
            # snapshots must compare equal, not phantom as added+removed
            l, r = left.select(cols).alias("l"), right.select(cols).alias("r")
            cond = None
            for c in cols:
                eq = F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}"))
                cond = eq if cond is None else cond & eq
            return l.join(r, cond, "left_anti")

        added = _anti(b, a).select(F.lit("added").alias("change"), *cols)
        removed = _anti(a, b).select(F.lit("removed").alias("change"), *cols)
        return added.unionByName(removed)

    @classmethod
    def current_version(cls, path: str) -> int | None:
        ptr = os.path.join(path, cls._CURRENT)
        if not os.path.isfile(ptr):
            return None
        return int(open(ptr).read().strip())

    @classmethod
    def vacuum(cls, path: str, keep: int = 1) -> list[int]:
        """Drop all but the newest ``keep`` committed versions (never the
        current one).  Returns the removed version numbers."""
        current = cls.current_version(path)
        vdir = os.path.join(path, cls._VERSIONS)
        if current is None or not os.path.isdir(vdir):
            return []
        versions = sorted(
            int(d[1:]) for d in os.listdir(vdir) if d.startswith("v") and d[1:].isdigit()
        )
        # keep-set = the newest `keep` versions plus the current one —
        # computed as a set so a _CURRENT pointer at a non-maximal version
        # (after time travel) can never cause newer snapshots to be dropped
        kept = set(versions[-max(keep, 0):]) | {current}
        removable = [v for v in versions if v not in kept]
        for v in removable:
            shutil.rmtree(os.path.join(vdir, f"v{v}"), ignore_errors=True)
        return removable

    @classmethod
    def load(cls, spark: SparkSession, path: str, version: int | None = None) -> "LakeIndex":
        """Open the index — the committed snapshot when a ``_CURRENT``
        pointer exists (or an explicit ``version`` for time travel), else
        the legacy direct layout."""
        current = cls.current_version(path)
        if version is not None or current is not None:
            path = os.path.join(path, cls._VERSIONS, f"v{version if version is not None else current}")
        # a required member (no dataclass default) is read even when its
        # directory is missing, so a broken layout fails here
        required = {f.name for f in fields(cls) if f.default is MISSING}
        return cls(**{
            name: spark.read.parquet(os.path.join(path, name))
            for name in cls._MEMBERS
            if name in required or os.path.isdir(os.path.join(path, name))
        })

    def drop(self, path: str) -> None:
        """S9 — index teardown."""
        shutil.rmtree(path, ignore_errors=True)
