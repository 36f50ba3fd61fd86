"""End-to-end dataset enrichment (demo parity): the planted lake's feature
column must land on the input with correct values and coverage.  A warm
call reuses what an earlier one built: its compiled code, and the index's
duplicate-table relations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.pipelines.enrichment import enrich_dataset


@pytest.mark.spark
def test_enrich_dataset_end_to_end(planted):
    res = enrich_dataset(
        planted["index"],
        planted["input"],
        query_columns=["director_name", "movie_title"],
        target_column="imdb_score",
        k=3,
        k_features=3,
        input_order_by=["director_name", "movie_title"],
    )
    assert res.stats["joinable_tables"] >= 1
    assert res.stats["evaluated_features"] >= 2
    assert res.stats["mate_runtime"] > 0

    enriched = res.enriched
    # the planted numeric feature arrives as ext_0_2 = str(2 * i) for the
    # 32 covered input rows, NULL for the 8 uncovered ones
    assert "ext_0_2" in enriched.columns
    rows = enriched.select("movie_title", "ext_0_2").collect()
    covered = [r for r in rows if r["ext_0_2"] is not None]
    assert len(covered) == 32
    for r in covered:
        i = int(r["movie_title"].rsplit(" ", 1)[1])
        assert r["ext_0_2"] == str(2 * i)


@pytest.mark.spark
def test_mate_stats_path_reuses_verification_join(planted):
    """Requesting stats persists the prefilter/verification intermediates,
    so the top_k / join_pairs actions that follow read the cache
    (InMemoryTableScan in the executed plan) instead of re-running the
    verification join."""
    from datalake_indexes_spark.operators.mate import MATE

    stats: dict = {}
    res = MATE(planted["index"]).join_search(
        planted["input"],
        ["director_name", "movie_title"],
        k=3,
        input_order_by=["director_name", "movie_title"],
        stats=stats,
    )
    # stats themselves were computed (forcing the join once)
    assert stats["matching_rows"] > 0
    assert stats["total_approved"] >= stats["matching_rows"]
    # downstream actions hit the persisted intermediates
    plan = res.top_k._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    pair_plan = res.join_pairs._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in pair_plan
    assert res.top_k.count() > 0


def _enrich(planted):
    return enrich_dataset(
        planted["index"],
        planted["input"],
        query_columns=["director_name", "movie_title"],
        target_column="imdb_score",
        k=3,
        k_features=3,
        input_order_by=["director_name", "movie_title"],
    )


@pytest.mark.spark
def test_enrich_dataset_result_schemas(planted):
    res = _enrich(planted)
    assert res.enriched.schema.simpleString() == (
        "struct<mate_row_id:bigint,director_name:string,movie_title:string,"
        "imdb_score:double,ext_0_2:string,ext_0_3:string,ext_0_4:string>"
    )
    assert res.top_tables.schema.simpleString() == (
        "struct<table_id:int,score:bigint,column_combination:string>"
    )
    assert res.correlations.schema.simpleString() == (
        "struct<table_col_id:string,corr:double,is_numeric:boolean>"
    )
    assert [tuple(r) for r in res.top_tables.collect()] == [(0, 31, "0_1")]
    assert [r["table_col_id"] for r in res.correlations.collect()] == ["0_2", "0_3", "0_4"]


@pytest.mark.spark
def test_repeated_enrich_reuses_compiled_code(spark, planted):
    """Spark's compiled-class cache holds a whole enrichment: a second
    identical call compiles (almost) nothing.  With the default 100-entry
    cache the LRU evicted the call's own classes, and every call compiled
    about 300 again."""
    idx = planted["index"]
    for member in idx._frames().values():
        member.count()  # the index caches, built once, are read from here on
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run() -> int:
        before = compiles.getCount()
        res = _enrich(planted)
        res.enriched.collect()
        res.top_tables.collect()
        res.correlations.collect()
        return compiles.getCount() - before

    run()
    assert run() <= 10


def _jobs_of(spark, fn):
    sc = spark.sparkContext
    tag = f"jobs-of-{id(fn)}"
    sc.setJobGroup(tag, "", interruptOnCancel=False)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.mark.spark
def test_relations_computed_once_per_index(spark, planted):
    from datalake_indexes_spark.index.lake_index import LakeIndex
    from datalake_indexes_spark.operators.duplicates import DuplicateDetection

    idx = planted["index"]
    fresh = LakeIndex(**{n: getattr(idx, n) for n in LakeIndex._MEMBERS})
    first, jobs = _jobs_of(spark, DuplicateDetection(fresh).get_relations)
    assert jobs > 0
    again, jobs = _jobs_of(spark, DuplicateDetection(fresh).get_relations)
    assert jobs == 0
    rows = sorted(map(tuple, first.collect()))
    assert rows == sorted(map(tuple, again.collect()))
    assert rows == [(2, 3), (2, 4), (3, 4)]

    other = LakeIndex(**{n: getattr(idx, n) for n in LakeIndex._MEMBERS})
    recomputed, jobs = _jobs_of(spark, DuplicateDetection(other).get_relations)
    assert jobs > 0
    assert sorted(map(tuple, recomputed.collect())) == rows
