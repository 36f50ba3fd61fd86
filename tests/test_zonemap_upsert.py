"""Zone-map file pruning and the index MERGE (upsert/delete) surface.

Zone maps: build per-file min/max stats, assert a narrow-range scan (a)
returns exactly the full-scan filter result and (b) opens strictly fewer
files; incremental refresh only scans unseen files.

Upsert: re-ingesting one modified table into a saved index rewrites only
that table's partitions (other partitions' files untouched on disk, byte
for byte), merges metadata, and keeps tracked token counts consistent.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.mark.spark
class TestZonemap:
    @pytest.fixture(scope="class")
    def dataset(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("zm"))
        data = os.path.join(root, "data")
        # 16 range-clustered files over k=0..1599 — tight per-file zones
        df = spark.range(1600).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
        )
        df.repartitionByRange(16, "k").write.parquet(data)
        return root, data

    def test_scan_matches_and_prunes(self, spark, dataset):
        from datalake_indexes_spark.index.zonemap import (
            build_zonemap,
            pruned_files,
            scan_pruned,
        )

        root, data = dataset
        zm = os.path.join(root, "zonemap")
        build_zonemap(spark, data, ["k"], zm)

        total_files = spark.read.parquet(zm).count()
        assert total_files >= 8

        files = pruned_files(spark, zm, {"k": (100, 140)})
        assert 0 < len(files) < total_files  # real pruning happened

        got = sorted(r.k for r in scan_pruned(spark, data, zm, {"k": (100, 140)}).collect())
        want = sorted(
            r.k
            for r in spark.read.parquet(data)
            .filter((F.col("k") >= 100) & (F.col("k") <= 140))
            .collect()
        )
        assert got == want

    def test_empty_range_returns_empty_with_schema(self, spark, dataset):
        from datalake_indexes_spark.index.zonemap import build_zonemap, scan_pruned

        root, data = dataset
        zm = os.path.join(root, "zonemap2")
        build_zonemap(spark, data, ["k"], zm)
        out = scan_pruned(spark, data, zm, {"k": (10_000, 20_000)})
        assert out.count() == 0
        assert set(out.columns) == {"k", "v"}

    def test_open_interval_and_multi_col(self, spark, dataset):
        from datalake_indexes_spark.index.zonemap import build_zonemap, scan_pruned

        root, data = dataset
        zm = os.path.join(root, "zonemap3")
        build_zonemap(spark, data, ["k", "v"], zm)
        out = scan_pruned(spark, data, zm, {"k": (1500, None), "v": (None, 3.0)})
        want = (
            spark.read.parquet(data)
            .filter((F.col("k") >= 1500) & (F.col("v") <= 3.0))
            .count()
        )
        assert out.count() == want

    def test_incremental_refresh_adds_only_new_files(self, spark, dataset):
        from datalake_indexes_spark.index.zonemap import (
            build_zonemap,
            refresh_incremental,
            scan_pruned,
        )

        root, data = dataset
        zm = os.path.join(root, "zonemap4")
        build_zonemap(spark, data, ["k"], zm)
        before = spark.read.parquet(zm).count()

        # append a new file far outside the existing key range
        spark.range(5000, 5100).select(
            F.col("id").alias("k"), F.lit(0.0).alias("v")
        ).coalesce(1).write.mode("append").parquet(data)

        added = refresh_incremental(spark, data, zm, ["k"])
        assert added == 1
        assert spark.read.parquet(zm).count() == before + 1
        # idempotent: nothing new on a second pass
        assert refresh_incremental(spark, data, zm, ["k"]) == 0
        # the refreshed map serves the appended range
        assert scan_pruned(spark, data, zm, {"k": (5000, 6000)}).count() == 100


def _mini_index(spark, rows, table_ids):
    """Tiny LakeIndex over literal cells for the given table ids."""
    from datalake_indexes_spark.index.lake_index import LakeIndex

    cells = spark.createDataFrame(
        rows, "table_id int, col_id int, row_id int, tokenized string"
    )
    row_keys = (
        cells.select("table_id", "row_id")
        .distinct()
        .select(
            "table_id",
            "row_id",
            F.lit(0).cast("long").alias("super_key_hi"),
            F.lit(0).cast("long").alias("super_key_lo"),
        )
    )
    headers = spark.createDataFrame(
        [(t, 0, f"h{t}") for t in table_ids], "table_id int, col_id int, header string"
    )
    info = spark.createDataFrame(
        [(t, 0, 0) for t in table_ids],
        "table_id int, max_col_id int, max_row_id int",
    )
    return LakeIndex(
        cells=cells, row_keys=row_keys, column_headers=headers, table_info=info
    )


@pytest.mark.spark
class TestUpsertDelete:
    def test_upsert_rewrites_only_delta_partitions(self, spark, tmp_path):
        path = str(tmp_path / "idx")
        base = _mini_index(
            spark,
            [(1, 0, 0, "alpha"), (1, 0, 1, "beta"), (2, 0, 0, "gamma")],
            [1, 2],
        )
        base.save(path)
        # track token counts so the incremental maintenance runs
        base.cells.groupBy("tokenized").agg(
            F.count(F.lit(1)).alias("cnt")
        ).write.parquet(os.path.join(path, "token_stats"))

        untouched = os.path.join(path, "cells", "table_id=2")
        before = {
            f: os.path.getmtime(os.path.join(untouched, f))
            for f in os.listdir(untouched)
        }

        delta = _mini_index(
            spark, [(1, 0, 0, "alpha"), (1, 0, 1, "delta_tok")], [1]
        )
        assert delta.upsert_into(path) == [1]

        from datalake_indexes_spark.index.lake_index import LakeIndex

        idx = LakeIndex.load(spark, path)
        toks = {
            r.tokenized
            for r in idx.cells.filter(F.col("table_id") == 1).collect()
        }
        assert toks == {"alpha", "delta_tok"}  # beta replaced
        # table 2 logically intact AND physically untouched
        assert {
            r.tokenized for r in idx.cells.filter(F.col("table_id") == 2).collect()
        } == {"gamma"}
        after = {
            f: os.path.getmtime(os.path.join(untouched, f))
            for f in os.listdir(untouched)
        }
        assert before == after

        # metadata merged: both tables present exactly once
        assert sorted(r.table_id for r in idx.table_info.collect()) == [1, 2]
        # token stats: beta gone, delta_tok absent (not tracked), alpha/gamma kept
        stats = {r.tokenized: r.cnt for r in idx.token_stats.collect()}
        assert stats == {"alpha": 1, "gamma": 1}

    def test_upsert_adds_new_table(self, spark, tmp_path):
        path = str(tmp_path / "idx2")
        _mini_index(spark, [(1, 0, 0, "a")], [1]).save(path)
        _mini_index(spark, [(9, 0, 0, "z")], [9]).upsert_into(path)

        from datalake_indexes_spark.index.lake_index import LakeIndex

        idx = LakeIndex.load(spark, path)
        assert sorted(r.table_id for r in idx.table_info.collect()) == [1, 9]
        assert idx.cells.count() == 2

    def test_upsert_refuses_versioned_layout(self, spark, tmp_path):
        path = str(tmp_path / "idx3")
        base = _mini_index(spark, [(1, 0, 0, "a")], [1])
        base.save_version(path)
        with pytest.raises(ValueError, match="versioned"):
            base.upsert_into(path)

    def test_delete_tables(self, spark, tmp_path):
        from datalake_indexes_spark.index.lake_index import LakeIndex

        path = str(tmp_path / "idx4")
        base = _mini_index(
            spark, [(1, 0, 0, "a"), (2, 0, 0, "b"), (2, 0, 1, "a")], [1, 2]
        )
        base.save(path)
        base.cells.groupBy("tokenized").agg(
            F.count(F.lit(1)).alias("cnt")
        ).write.parquet(os.path.join(path, "token_stats"))

        LakeIndex.delete_tables(spark, path, [2])
        idx = LakeIndex.load(spark, path)
        assert [r.table_id for r in idx.table_info.collect()] == [1]
        assert idx.cells.count() == 1
        assert not os.path.exists(os.path.join(path, "cells", "table_id=2"))
        stats = {r.tokenized: r.cnt for r in idx.token_stats.collect()}
        assert stats == {"a": 1}  # b's count dropped to 0 and was pruned


@pytest.mark.spark
class TestDiffVersions:
    def test_added_removed_modified(self, spark, tmp_path):
        from datalake_indexes_spark.index.lake_index import LakeIndex

        path = str(tmp_path / "vidx")
        v0 = _mini_index(
            spark, [(1, 0, 0, "a"), (2, 0, 0, "b"), (3, 0, 0, "c")], [1, 2, 3]
        )
        assert v0.save_version(path) == 0
        # v1: table 2 edited same-size, table 3 dropped, table 9 added
        v1 = _mini_index(
            spark, [(1, 0, 0, "a"), (2, 0, 0, "EDITED"), (9, 0, 0, "z")], [1, 2, 9]
        )
        assert v1.save_version(path) == 1

        diff = {
            r.table_id: r
            for r in LakeIndex.diff_versions(spark, path, 0, 1).collect()
        }
        assert set(diff) == {2, 3, 9}  # table 1 unchanged -> absent
        assert diff[9].change == "added" and diff[9].cells_from == 0
        assert diff[3].change == "removed" and diff[3].cells_to == 0
        # same cell COUNT but different content: fingerprint catches it
        assert diff[2].change == "modified"
        assert diff[2].cells_from == diff[2].cells_to == 1


@pytest.mark.spark
class TestMergeWithoutOptionalMembers:
    """A layout saved without ``token_stats`` and ``col_flags``: the merge
    skips both, for a delta and for a delete alike."""

    def _saved(self, spark, path):
        base = _mini_index(
            spark, [(1, 0, 0, "a"), (2, 0, 0, "b"), (3, 0, 0, "c")], [1, 2, 3]
        )
        base.save(path)
        assert not os.path.exists(os.path.join(path, "token_stats"))
        assert not os.path.exists(os.path.join(path, "col_flags"))

    def test_upsert(self, spark, tmp_path):
        from datalake_indexes_spark.index.lake_index import LakeIndex

        path = str(tmp_path / "bare_up")
        self._saved(spark, path)
        delta = _mini_index(spark, [(2, 0, 0, "b2"), (2, 0, 1, "b3"), (7, 0, 0, "z")], [2, 7])
        assert sorted(delta.upsert_into(path)) == [2, 7]
        idx = LakeIndex.load(spark, path)
        assert idx.token_stats is None and idx.col_flags is None
        assert sorted((r.table_id, r.tokenized) for r in idx.cells.collect()) == [
            (1, "a"), (2, "b2"), (2, "b3"), (3, "c"), (7, "z"),
        ]
        assert sorted(r.table_id for r in idx.table_info.collect()) == [1, 2, 3, 7]
        assert sorted(r.table_id for r in idx.column_headers.collect()) == [1, 2, 3, 7]
        assert idx.row_keys.count() == 5

    def test_delete(self, spark, tmp_path):
        from datalake_indexes_spark.index.lake_index import LakeIndex

        path = str(tmp_path / "bare_del")
        self._saved(spark, path)
        LakeIndex.delete_tables(spark, path, [1, 3])
        idx = LakeIndex.load(spark, path)
        assert idx.token_stats is None and idx.col_flags is None
        assert [(r.table_id, r.tokenized) for r in idx.cells.collect()] == [(2, "b")]
        assert [r.table_id for r in idx.table_info.collect()] == [2]
        assert [r.table_id for r in idx.column_headers.collect()] == [2]
        assert [r.table_id for r in idx.row_keys.collect()] == [2]
        for member in ("cells", "row_keys"):
            assert not os.path.exists(os.path.join(path, member, "table_id=1"))
