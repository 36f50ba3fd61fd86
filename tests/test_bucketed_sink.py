"""The bucketed catalog sink carries every persisted member: an index
built with token stats comes back from ``save_bucketed`` →
``load_bucketed`` with the same rows in each member, ``token_stats``
included."""

from __future__ import annotations

from datalake_indexes_spark.index.builder import build_index
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.sources.catalog import LakeTableSpec


def test_bucketed_roundtrip_keeps_every_member(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"name {i % 3}", "red" if i % 2 else "blue") for i in range(12)],
        "k long, name string, color string",
    )
    spec = LakeTableSpec("t", 4, ("k", "name", "color"), ("k",), "k")
    idx = build_index(spark, {"t": df}, {"t": spec}, with_token_stats=True, hot_token_threshold=4)
    assert idx.token_stats.count() > 0
    idx.save_bucketed("bkround", path=str(tmp_path / "bk"), n_buckets=4)
    try:
        loaded = LakeIndex.load_bucketed(spark, "bkround")
        for name in LakeIndex._MEMBERS:
            src, got = getattr(idx, name), getattr(loaded, name)
            assert got is not None, name
            got = got.select(*src.columns)
            assert src.exceptAll(got).count() == 0, name
            assert got.exceptAll(src).count() == 0, name
    finally:
        for name in LakeIndex._MEMBERS:
            spark.sql(f"DROP TABLE IF EXISTS bkround_{name}")
