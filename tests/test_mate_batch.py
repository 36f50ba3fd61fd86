"""Batched multi-query MATE (join_search_batch): per-query parity with
the single-query join_search, degree enforcement, and one-scan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.operators.mate import MATE


def _with_num(inp):
    """A third query column lake_join_hi.feat_num holds: 2 * the title's number."""
    return inp.withColumn(
        "num",
        (F.regexp_extract("movie_title", r"(\d+)$", 1).cast("int") * 2).cast("string"),
    )


def _norm(rows):
    return sorted((r.score, r.table_id, r.column_combination) for r in rows)


@pytest.mark.spark
class TestJoinSearchBatch:
    @pytest.mark.parametrize("use_hash", [True, False], ids=["hash", "no_hash"])
    @pytest.mark.parametrize("degree", [2, 3])
    def test_batch_matches_single_query_results(self, planted, degree, use_hash):
        mate = MATE(planted["index"])
        inp = _with_num(planted["input"])
        # two queries of one degree over the same lake: the forward probe
        # and a reversed-column variant (different hit columns)
        fwd = ["director_name", "movie_title", "num"][:degree]
        queries = {"fwd": fwd, "rev": fwd[::-1]}
        batch = mate.join_search_batch(
            {qid: (inp, qcols, None) for qid, qcols in queries.items()},
            k=5,
            use_hash_optimization=use_hash,
        ).collect()
        for qid, qcols in queries.items():
            single = mate.join_search(
                inp, qcols, k=5, use_hash_optimization=use_hash
            ).top_k.collect()
            got = _norm([r for r in batch if r.query_id == qid])
            assert got, qid
            assert got == _norm(single), qid

    def test_degree_one_batch_parity(self, planted):
        mate = MATE(planted["index"])
        inp = planted["input"]
        batch = mate.join_search_batch(
            {"d1": (inp, ["director_name"], None)}, k=5
        ).collect()
        single = mate.join_search(inp, ["director_name"], k=5).top_k.collect()
        assert _norm(batch) == _norm(single)

    def test_mixed_degrees_rejected(self, planted):
        mate = MATE(planted["index"])
        inp = planted["input"]
        with pytest.raises(ValueError, match="mixed"):
            mate.join_search_batch(
                {
                    "a": (inp, ["director_name"], None),
                    "b": (inp, ["director_name", "movie_title"], None),
                }
            )

    def test_empty_batch_rejected(self, planted):
        with pytest.raises(ValueError, match="empty batch"):
            MATE(planted["index"]).join_search_batch({})

    def test_per_query_candidate_caps_are_independent(self, planted):
        """A tiny k_c must cap each query separately, not the union."""
        mate = MATE(planted["index"])
        inp = planted["input"]
        # "a"'s best table is lake_join_hi (32 hits); "b" only hits the
        # lake_dup tables (12 each) — one cap over the union would keep
        # lake_join_hi alone and leave "b" empty
        codes = inp.sparkSession.createDataFrame(
            [(f"v{i}",) for i in range(5)], "code string"
        )
        queries = {"a": (inp, ["director_name"]), "b": (codes, ["code"])}
        batch = mate.join_search_batch(
            {qid: (df, qcols, None) for qid, (df, qcols) in queries.items()},
            k=5,
            k_c=1,
        ).collect()
        # each query keeps its own best table: the rows of a k_c=1 search
        for qid, (df, qcols) in queries.items():
            single = mate.join_search(df, qcols, k=5, k_c=1).top_k.collect()
            got = _norm([r for r in batch if r.query_id == qid])
            assert got and got == _norm(single), qid
