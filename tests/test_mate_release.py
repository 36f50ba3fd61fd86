"""What ``MATE.join_search`` persists it also releases: after
``MateResult.release()`` no RDD the search persisted is left, at degree
1 and 2, with and without ``stats=``.  And the stats
surface counts the frames it describes: at degree 1, where every
candidate pair verifies, ``total_approved`` comes from the match count
without a second count, and equals an explicit count of the pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.operators.mate import MATE

PAIR = ["director_name", "movie_title"]


def _numbered(spark, planted):
    # caller-supplied ids: no sampled-range numbering, whose local
    # checkpoint would count as persisted until it is garbage-collected
    rows = [(i, *r) for i, r in enumerate(planted["input"].orderBy(*PAIR).collect())]
    return spark.createDataFrame(
        rows, "mate_row_id long, director_name string, movie_title string, imdb_score double"
    )


@pytest.mark.parametrize("with_stats", [False, True])
@pytest.mark.parametrize("query", [PAIR[:1], PAIR], ids=["degree1", "degree2"])
def test_release_unpersists_what_join_search_persisted(spark, planted, query, with_stats):
    inp = _numbered(spark, planted)
    mate = MATE(planted["index"])

    def persistent() -> set[int]:
        # by id: RDDs of other tests may be garbage-collected meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def search():
        res = mate.join_search(inp, query, k=3, stats={} if with_stats else None)
        res.top_k.collect()
        res.join_pairs.collect()
        return res

    search().release()  # materializes the index caches the search reads
    before = persistent()
    res = search()
    assert persistent() - before
    res.release()
    assert not persistent() - before


@pytest.mark.parametrize("query", [PAIR[:1], PAIR], ids=["degree1", "degree2"])
def test_stats_equal_explicit_counts(planted, query):
    mate = MATE(planted["index"])
    stats: dict = {}
    mate.join_search(planted["input"], query, k=3, input_order_by=PAIR, stats=stats).release()

    degree = len(query)
    inp = mate.prepare_input(planted["input"], query, PAIR, with_super_key=degree > 1)
    matches, pairs = mate._match(F.broadcast(inp), [], degree, degree > 1, True, 500, 0)[:2]
    n_match, n_pairs = matches.count(), pairs.count()
    assert n_match > 0
    assert stats == {
        "total_approved": n_pairs,
        "matching_rows": n_match,
        "total_fp": n_pairs - n_match,
        "precision": n_match / n_pairs,
    }
