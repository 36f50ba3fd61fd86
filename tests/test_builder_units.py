"""Unit tests for index/builder.py primitives: the collect-free numeric
row-numbering path, the sampled-range fallback and the fused
tokenize+hash unpivot."""

from __future__ import annotations

import pytest

from datalake_indexes_spark.functions.hashes import bloom128
from datalake_indexes_spark.functions.xash import xash
from datalake_indexes_spark.index.builder import with_global_row_number


def _check_ids(spark, values, order_key="k"):
    df = spark.createDataFrame([(v,) for v in values], f"{order_key} int")
    out = with_global_row_number(df, [order_key]).collect()
    got = {r[order_key]: r["row_id"] for r in out}
    ordered = sorted(values, key=lambda v: (v is not None, v))  # nulls first
    expected = {v: i for i, v in enumerate(ordered)}
    assert got == expected
    assert sorted(r["row_id"] for r in out) == list(range(len(values)))


def test_numeric_row_number_skewed(spark):
    """Heavily skewed key range: bucket boundaries are value-derived, so
    most buckets are empty — ids must still be the dense global sort rank."""
    _check_ids(spark, [5, 1_000_000, 7, 999_999, 6, 0, 500_000])


def test_numeric_row_number_nulls_first(spark):
    df = spark.createDataFrame([(3,), (None,), (1,), (None,), (2,)], "k int")
    out = with_global_row_number(df, ["k"]).collect()
    by_id = sorted(out, key=lambda r: r["row_id"])
    assert [r["k"] for r in by_id[2:]] == [1, 2, 3]
    assert all(r["k"] is None for r in by_id[:2])
    assert [r["row_id"] for r in by_id] == [0, 1, 2, 3, 4]


def test_numeric_row_number_single_value(spark):
    """Degenerate span (min == max) with a composite tiebreak key."""
    df = spark.createDataFrame([(7, "b"), (7, "a"), (7, "c")], "k int, t string")
    out = with_global_row_number(df, ["k", "t"]).collect()
    assert {(r["t"], r["row_id"]) for r in out} == {("a", 0), ("b", 1), ("c", 2)}


def test_string_key_falls_back_to_sampled_range(spark):
    df = spark.createDataFrame([(w,) for w in ["pear", "apple", "zoo", "fig"]], "s string")
    out = with_global_row_number(df, ["s"]).collect()
    got = {r["s"]: r["row_id"] for r in out}
    assert got == {"apple": 0, "fig": 1, "pear": 2, "zoo": 3}


def test_sampled_range_numbering_caches_nothing(spark):
    """The sampled-range fallback pins its partitioning with a local
    checkpoint, which goes with the frame — no cache-manager entry is left
    behind (a ``.cache()`` there is one nothing ever releases)."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_manager.isEmpty()
    df = spark.createDataFrame([(w,) for w in ["kiwi", "date", "lime"]], "s string")
    out = with_global_row_number(df, ["s"])
    assert {r["s"]: r["row_id"] for r in out.collect()} == {"date": 0, "kiwi": 1, "lime": 2}
    assert "InMemoryRelation" not in out._jdf.queryExecution().withCachedData().toString()
    if was_empty:  # other tests of the session may hold caches of their own
        assert cache_manager.isEmpty()


def test_get_table_reapplies_headers(spark):
    """S10 — reconstruction re-labels the pivot with the STORED headers
    (reference data_handler.py:679-685); empty headers fall back to
    col_<i> and duplicate names get a _<col_id> suffix."""
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.sources.catalog import LakeTableSpec

    df = spark.createDataFrame(
        [(0, "aa", "x"), (1, "bb", "y")], "k long, name string, name2 string"
    )
    spec = LakeTableSpec("t", 7, ("k", "name", "name2"), ("k",), "k")
    idx = build_index(spark, {"t": df}, {"t": spec}, with_super_keys=False)
    out = idx.get_table(7)
    assert out.columns == ["row_id", "k", "name", "name2"]
    rows = {r["row_id"]: r for r in out.collect()}
    assert rows[0]["name"] == "aa" and rows[1]["name2"] == "y"

    # empty + duplicated headers: synthesize a header table with quirks
    from pyspark.sql import functions as F

    idx.column_headers = spark.createDataFrame(
        [(7, 0, None, None), (7, 1, "dup", "dup"), (7, 2, "dup", "dup")],
        "table_id int, col_id int, header string, header_tokenized string",
    )
    out2 = idx.get_table(7)
    assert out2.columns == ["row_id", "col_0", "dup", "dup_2"]


def test_sql_view_surface(spark):
    """register_index_views makes the index spark.sql-queryable; a SQL
    posting probe + header join over the views matches the DataFrame API."""
    from pyspark.sql import functions as F

    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.plans.sql_api import register_index_views
    from datalake_indexes_spark.sources.catalog import LakeTableSpec

    df = spark.createDataFrame(
        [(0, "alpha", "xx"), (1, "beta", "yy"), (2, "alpha", "zz")],
        "k long, name string, val string",
    )
    spec = LakeTableSpec("t", 3, ("k", "name", "val"), ("k",), "k")
    idx = build_index(spark, {"t": df}, {"t": spec}, with_super_keys=True)
    views = register_index_views(spark, idx, prefix="tv")
    assert {"tv_cells", "tv_row_keys", "tv_column_headers", "tv_table_info"} <= set(views)
    rows = spark.sql("""
        SELECT c.row_id, h.header
        FROM tv_cells c JOIN tv_column_headers h
          ON h.table_id = c.table_id AND h.col_id = c.col_id
        WHERE c.tokenized = 'alpha'
        ORDER BY c.row_id
    """).collect()
    assert [(r["row_id"], r["header"]) for r in rows] == [(0, "name"), (2, "name")]
    sql_keys = spark.sql("SELECT count(*) AS n FROM tv_row_keys").collect()[0]["n"]
    assert sql_keys == idx.row_keys.count() == 3
    # the optional members are views when present, and only then
    assert "tv_col_flags" in views and "tv_token_stats" not in views
    stats_idx = build_index(
        spark, {"t": df}, {"t": spec}, with_token_stats=True, hot_token_threshold=2
    )
    views = register_index_views(spark, stats_idx, prefix="tvs")
    assert {"tvs_col_flags", "tvs_token_stats"} <= set(views)
    hot = spark.sql("SELECT tokenized, cnt FROM tvs_token_stats").collect()
    assert [(r["tokenized"], r["cnt"]) for r in hot] == [("alpha", 2)]


@pytest.mark.parametrize("fn", [xash, bloom128], ids=["xash", "bloom128"])
def test_fused_tokenize_hash_matches_unfused(spark, fn):
    """The fused tokenize+hash Arrow UDF path produces bit-identical keyed
    cells (tokens AND super keys) to the unfused composition — JVM
    ``tokenize_col`` + stack, then a ``hash_pandas_udf`` OR-fold per row
    — across mixed types, nulls, floats (JVM cast formatting), unicode
    and >200-char strings, for XASH and a custom hash family."""
    from datalake_indexes_spark.functions.xash import hash_pandas_udf, tokenize_hash_pandas_udf
    from datalake_indexes_spark.index.builder import row_keys_for, unpivot_to_cells
    from datalake_indexes_spark.sources.catalog import LakeTableSpec

    rows = [
        (0, "Hello, World!", 1.0e7, None),
        (1, None, 3.14159, "the United  States"),
        (2, "CAFÉ au lait — déjà vu", -0.001, "x" * 300),
        (3, "42", None, "tab\tand\nnewline"),
        (4, "a the of on in", 123456789.0, ""),
    ]
    df = spark.createDataFrame(rows, "rid int, s string, d double, t string")
    spec = LakeTableSpec("fuz", 7, ("s", "d", "t"), ("rid",), "rid")

    fused = unpivot_to_cells(df, spec, tokenize_hash_pandas_udf(fn))
    cells = unpivot_to_cells(df, spec)
    unfused = cells.join(row_keys_for(cells, hash_pandas_udf(fn)), ["table_id", "row_id"])
    key = ["table_id", "col_id", "row_id"]
    a = {tuple(r[k] for k in key): (r["tokenized"], r["super_key_hi"], r["super_key_lo"])
         for r in fused.collect()}
    b = {tuple(r[k] for k in key): (r["tokenized"], r["super_key_hi"], r["super_key_lo"])
         for r in unfused.collect()}
    assert a == b
    assert len(a) == len(rows) * 3
    assert len({v[1:] for v in a.values()}) == len(rows)  # real, distinct row keys
