"""An overwrite save replaces the whole index, optional members included:
saving an index without ``token_stats`` over a layout that holds an
earlier save with them must not leave the old counts behind, on the
direct layout (``save`` → ``load``) and on the bucketed catalog layout
(``save_bucketed`` → ``load_bucketed``)."""

from __future__ import annotations

from datalake_indexes_spark.index.builder import build_index
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.sources.catalog import LakeTableSpec


def _index(spark, tokens: list[str], with_token_stats: bool) -> LakeIndex:
    df = spark.createDataFrame([(i, t) for i, t in enumerate(tokens)], "k long, v string")
    spec = LakeTableSpec("t", 0, ("v",), ("k",), "k")
    return build_index(
        spark, {"t": df}, {"t": spec}, with_token_stats=with_token_stats, hot_token_threshold=2
    )


def test_overwrite_drops_stale_token_stats(spark, tmp_path):
    old = _index(spark, ["alpha"] * 3 + ["beta"] * 3, with_token_stats=True)
    new = _index(spark, ["gamma"] * 3, with_token_stats=False)
    assert old.token_stats.count() == 2 and new.token_stats is None

    path = str(tmp_path / "idx")
    old.save(path)
    assert LakeIndex.load(spark, path).token_stats is not None
    new.save(path, mode="overwrite")
    loaded = LakeIndex.load(spark, path)
    assert loaded.token_stats is None
    assert {r["tokenized"] for r in loaded.cells.collect()} == {"gamma"}

    try:
        old.save_bucketed("ovw", path=str(tmp_path / "bk_old"), n_buckets=2)
        assert LakeIndex.load_bucketed(spark, "ovw").token_stats is not None
        new.save_bucketed("ovw", path=str(tmp_path / "bk_new"), n_buckets=2)
        loaded = LakeIndex.load_bucketed(spark, "ovw")
        assert loaded.token_stats is None
        assert {r["tokenized"] for r in loaded.cells.collect()} == {"gamma"}
    finally:
        for name in LakeIndex._MEMBERS:
            spark.sql(f"DROP TABLE IF EXISTS ovw_{name}")
