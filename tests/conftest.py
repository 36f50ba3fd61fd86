from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from datalake_indexes_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


from datalake_indexes_spark.index.builder import build_index  # noqa: E402
from datalake_indexes_spark.sources.catalog import LakeTableSpec  # noqa: E402


@pytest.fixture(scope="session")
def planted(spark):
    """Input dataset + mini-lake with known ground truth."""
    return planted_lake(spark)


def planted_lake(spark):
    """Build the ``planted`` fixture outside pytest (``scripts/mate_plans.py``)."""
    n = 40
    # input: query columns (director, title), target correlated with plant
    input_rows = [
        (f"Director {i % 10}", f"Movie Title {i}", float(i) / n + (i % 3) * 0.01)
        for i in range(n)
    ]
    input_df = spark.createDataFrame(
        input_rows, "director_name string, movie_title string, imdb_score double"
    )

    # lake_join_hi: covers 80% of input pairs; feat_num monotone in score;
    # feat_cat = binned score.  NOTE feat_num/noise are ints: the tokenizer
    # (like the reference's) folds '.' to space, so decimal strings like
    # '2.0' become the non-numeric token '2 0' — integer-rendered values
    # are what exercises the numeric Spearman path end-to-end.
    hi_rows = [
        (f"Director {i % 10}", f"Movie Title {i}", i * 2, f"bin{i // 10}", i % 7)
        for i in range(int(n * 0.8))
    ]
    lake_join_hi = spark.createDataFrame(
        hi_rows, "key1 string, key2 string, feat_num int, feat_cat string, noise int"
    )
    # lake_join_mid: single-column overlap on director only (40%)
    mid_rows = [(f"Director {i % 10}", 99.0, "pad") for i in range(16)]
    lake_join_mid = spark.createDataFrame(mid_rows, "key1 string, feat double, pad string")
    # duplicate pair: identical row multisets, different order + a chain 3rd
    dup_rows = [(f"k{i}", f"v{i % 5}") for i in range(12)]
    lake_dup_a = spark.createDataFrame(dup_rows, "c1 string, c2 string")
    lake_dup_b = spark.createDataFrame(list(reversed(dup_rows)), "c1 string, c2 string")
    lake_dup_c = spark.createDataFrame(dup_rows, "c1 string, c2 string")

    tables = {
        "lake_join_hi": lake_join_hi,
        "lake_join_mid": lake_join_mid,
        "lake_dup_a": lake_dup_a,
        "lake_dup_b": lake_dup_b,
        "lake_dup_c": lake_dup_c,
    }
    specs = {
        "lake_join_hi": LakeTableSpec(
            "lake_join_hi", 0, ("key1", "key2", "feat_num", "feat_cat", "noise"),
            ("key1", "key2"),
        ),
        "lake_join_mid": LakeTableSpec("lake_join_mid", 1, ("key1", "feat", "pad"), ("key1",)),
        "lake_dup_a": LakeTableSpec("lake_dup_a", 2, ("c1", "c2"), ("c1",)),
        "lake_dup_b": LakeTableSpec("lake_dup_b", 3, ("c1", "c2"), ("c1",)),
        "lake_dup_c": LakeTableSpec("lake_dup_c", 4, ("c1", "c2"), ("c1",)),
    }
    index = build_index(spark, tables, specs).cache()
    return {"input": input_df, "index": index}
