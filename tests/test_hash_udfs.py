"""The super-key hash UDFs against pure Python: every factory
(``hash_pandas_udf``, ``xash_pandas_udf``, ``row_hash_pandas_udf``,
``tokenize_hash_pandas_udf``) returns ``split128(fn(token))`` — the
OR-fold of the row's tokens for the row UDF — for every value, across
several Arrow batches of one partition, so the per-worker memo is hit by
values first seen in an earlier batch."""

from __future__ import annotations

from functools import partial, reduce
from operator import or_

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.hashes import bloom128
from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.functions.xash import (
    hash_pandas_udf,
    row_hash_pandas_udf,
    split128,
    tokenize_hash_pandas_udf,
    xash,
    xash_pandas_udf,
)

FAMILIES = {
    "xash": xash,
    "xash64_no_rotation": partial(xash, hash_size=64, rotation=False),
    "bloom128": bloom128,
}
BATCH = 3
# repeated, null, empty, non-ASCII and >200-char values, spread so that
# repeats land in later batches than their first occurrence
VALUES = [
    "alpha", None, "", "Straße 12", "alpha", "日本語", "beta gamma", None,
    "x" * 250, "", "beta gamma", "Straße 12", "42", "CAFÉ — déjà", "alpha", "0",
    "the of", "42", "日本語", None, "zz top",
]
ROWS = ["alpha\x01beta", "alpha", "", None, "0\x01\x01k", "alpha\x01beta",
        "日本\x01x", "k\x010", "zz\x01top\x01zz", "alpha"]


@pytest.fixture
def small_batches(spark):
    """Arrow batches of ``BATCH`` records for the duration of a test."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(BATCH))
    yield
    spark.conf.set(key, old)


def _one_partition(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v string")
    return df.coalesce(1)


def _hashed(df, udf, *extra):
    rows = df.select("i", "v", *extra, udf(F.col("v")).alias("h")).orderBy("i").collect()
    assert len(rows) >= 3 * BATCH  # several batches, one partition
    return rows


@pytest.mark.parametrize("name", FAMILIES)
def test_hash_pandas_udf_matches_python(spark, small_batches, name):
    fn = FAMILIES[name]
    for r in _hashed(_one_partition(spark, VALUES), hash_pandas_udf(fn)):
        assert (r["h"]["hi"], r["h"]["lo"]) == split128(fn(r["v"] or "")), r["v"]


def test_xash_pandas_udf_is_hash_pandas_udf_of_xash(spark, small_batches):
    udf = xash_pandas_udf(hash_size=64, rotation=False)
    for r in _hashed(_one_partition(spark, VALUES), udf):
        assert (r["h"]["hi"], r["h"]["lo"]) == split128(
            xash(r["v"] or "", hash_size=64, rotation=False)
        ), r["v"]


@pytest.mark.parametrize("name", FAMILIES)
def test_row_hash_pandas_udf_is_or_fold(spark, small_batches, name):
    fn = FAMILIES[name]
    for r in _hashed(_one_partition(spark, ROWS), row_hash_pandas_udf(fn)):
        want = reduce(or_, (fn(t) for t in (r["v"] or "").split("\x01")), 0)
        assert (r["h"]["hi"], r["h"]["lo"]) == split128(want), r["v"]


@pytest.mark.parametrize("name", FAMILIES)
def test_tokenize_hash_pandas_udf_matches_jvm_tokens(spark, small_batches, name):
    """Tokens equal the JVM tokenizer's, cell for cell; keys are the
    hash of those tokens."""
    fn = FAMILIES[name]
    df = _one_partition(spark, VALUES)
    udf = tokenize_hash_pandas_udf(fn)
    rows = _hashed(df, udf, tokenize_col(F.col("v")).alias("jvm_tok"))
    for r in rows:
        assert r["h"]["tok"] == r["jvm_tok"], r["v"]
        assert (r["h"]["hi"], r["h"]["lo"]) == split128(fn(r["jvm_tok"])), r["v"]
    assert len({r["jvm_tok"] for r in rows}) > 8  # not all collapsed to ""
