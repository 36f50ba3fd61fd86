"""MATE joinability-search and COCOA enrichment pipelines.

Split from the former plans/queries.py (round 9) — pure rearrangement,
every definition verbatim; registry order pinned in ``_registry``.
"""

from __future__ import annotations
import os
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from datalake_indexes_spark.index.builder import build_index, with_global_row_number
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.operators.cocoa import COCOA, is_numeric_flags
from datalake_indexes_spark.operators.duplicates import DuplicateDetection
from datalake_indexes_spark.operators.mate import MATE
from datalake_indexes_spark.plans import oracle
from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.sources.catalog import ALL_TABLE_NAMES, TESTDATA_LAKE_SPEC

from datalake_indexes_spark.plans.queries._base import _BLOOM_KEYS_CACHE, _numbered_probe, testdata_index

def q_mate_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (degree 1) — top joinable tables for customer on c_custkey."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    # mate_row_id preset from the catalog-vouched dense key: numbering is
    # a projection, not an eager min/max + window (see _numbered_probe)
    customer = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    return mate.join_search(
        customer, ["c_custkey"], k=10, k_c=500, input_order_by=["c_custkey"]
    ).top_k


def q_mate_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+J3 (degree 2) — lineitem on (l_orderkey, l_partkey)."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return mate.join_search(
        lineitem,
        ["l_orderkey", "l_partkey"],
        k=10,
        k_c=500,
        input_order_by=["l_orderkey", "l_linenumber"],
    ).top_k


def q_mate_triple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+J3 (degree 3) — lineitem on (l_orderkey, l_partkey, l_suppkey):
    all three values must co-occur in one lake row."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return mate.join_search(
        lineitem,
        ["l_orderkey", "l_partkey", "l_suppkey"],
        k=10,
        k_c=500,
        input_order_by=["l_orderkey", "l_linenumber"],
    ).top_k


def q_mate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with min_join_ratio — candidate tables must clear a posting-list
    floor before verification (mate.py:325-326)."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    customer = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    return mate.join_search(
        customer, ["c_custkey"], k=10, k_c=500, min_join_ratio=50,
        input_order_by=["c_custkey"],
    ).top_k


def q_cocoa_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A8-A11/W1/W5 — single-column COCOA enrichment:
    customer.c_custkey -> correlations against c_acctbal."""
    idx = testdata_index(spark, sf_dir, with_super_keys=False)
    cocoa = COCOA(idx)
    # input_row_id from the catalog-vouched dense key (see _numbered_probe)
    inp = _numbered_probe(spark, sf_dir, "customer", "input_row_id")
    out = cocoa.enrich(
        inp, k_c=20, k_t=5, query_column="c_custkey", target_column="c_acctbal"
    )
    return out.select("table_col_id", F.round("corr", 4).alias("corr"), "is_numeric")


def q_cocoa_multicolumn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cocoa.py:306-583 — enrich_multicolumn over MATE's join maps:
    customer joinable on c_custkey, every non-join column of the winning
    tables correlated against c_acctbal."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    inp_ids = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    # stats= persists MATE's shared verification output, so the top-k
    # branch and the join maps both reuse ONE probe/verify execution
    res = mate.join_search(
        inp_ids, ["c_custkey"], k=5, k_c=500, input_order_by=["c_custkey"],
        stats={},
    )
    # the correlation job reads the join maps twice (candidate-table
    # distinct + broadcast); cache them so MATE executes once
    res.join_pairs = res.join_pairs.persist()
    cocoa = COCOA(idx)
    out = cocoa.enrich_multicolumn(inp_ids, res, k_c=10, target_column="c_acctbal")
    return out.select("table_col_id", F.round("corr", 4).alias("corr"), "is_numeric")


def q_mate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 without the super-key prefilter — the reference's
    hash_function=None 'linear' mode (mate.py:199).  Verified results are
    identical to the hashed path (the prefilter is sound), so the oracle is
    shared."""
    idx = testdata_index(spark, sf_dir, with_super_keys=False)
    mate = MATE(idx)
    customer = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    return mate.join_search(
        customer, ["c_custkey"], k=10, k_c=500,
        use_hash_optimization=False, input_order_by=["c_custkey"],
    ).top_k


def q_mate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with the Bloom hash family (mate.py:66-92 hash_row_vals_bf /
    bloom_filter.py) — containment-monotone, so the prefilter stays on;
    verified results match XASH's (same oracle)."""
    from datalake_indexes_spark.functions.hashes import bloom128
    from datalake_indexes_spark.functions.xash import hash_pandas_udf
    from datalake_indexes_spark.index.builder import row_keys_for
    from datalake_indexes_spark.index.lake_index import LakeIndex

    base = testdata_index(spark, sf_dir, with_super_keys=False)
    key = os.path.abspath(sf_dir)
    if key not in _BLOOM_KEYS_CACHE:
        _BLOOM_KEYS_CACHE[key] = row_keys_for(
            base.cells, hash_pandas_udf(bloom128)
        ).cache()
    idx = LakeIndex(
        cells=base.cells,
        row_keys=_BLOOM_KEYS_CACHE[key],
        column_headers=base.column_headers,
        table_info=base.table_info,
    )
    mate = MATE(idx, hash_function=bloom128)
    # mate_row_id preset from the catalog-vouched dense key: numbering is
    # a projection, not an eager min/max + window (see _numbered_probe)
    customer = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    return mate.join_search(
        customer, ["c_custkey"], k=10, k_c=500, input_order_by=["c_custkey"]
    ).top_k


def q_mate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched MATE: two degree-1 joinability searches in ONE job."""
    idx = testdata_index(spark, sf_dir)
    mate = MATE(idx)
    customer = _numbered_probe(spark, sf_dir, "customer", "mate_row_id")
    orders = _numbered_probe(spark, sf_dir, "orders", "mate_row_id")
    return mate.join_search_batch(
        {
            "cust": (customer, ["c_custkey"], ["c_custkey"]),
            "ord": (orders, ["o_orderkey"], ["o_orderkey"]),
        },
        k=10,
        k_c=500,
    )


