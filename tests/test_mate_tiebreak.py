"""Regression pins for MATE.prepare_input's order contract (VERDICT r9 #8).

prepare_input relies on two load-bearing order assumptions:

1. with_global_row_number breaks ties in the order key by ARRIVAL order,
   which for a single-file parquet scan is FILE order (the contract the
   DuckDB oracle twin pins — its row_number() ties break by scan order).
2. Numbering a NARROW PROJECTION of the same scan assigns each row the
   same id as numbering the full-width frame (mate.py prepare_input
   projects [order ∪ query] before the numbering window).

A future change that parallelizes the probe scan (the f92ce20 incident
class: round 9's _spread_scan reordered lineitem's tie rows and was only
caught by an oracle sweep) must fail HERE first.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from datalake_indexes_spark.index.builder import with_global_row_number
from datalake_indexes_spark.operators.mate import MATE


def _write_tied_parquet(spark, tmp_path, n=200, tie_width=10):
    """Single-file parquet whose order key k has tie_width-way ties and
    whose payload columns identify each physical row."""
    rows = [
        (i // tie_width, f"v{i:04d}", f"p{(i * 7) % n:04d}") for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k int, v string, payload string")
    path = str(tmp_path / "tied.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _read_one_partition(spark, path):
    """The tied file read back as ONE scan partition: the tie contract is
    file order within a single scan, so a split scan would make a failure
    here ambiguous (shuffle fetch order vs. a broken numbering)."""
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


def _expected_ids(path):
    """Ground truth from the file itself: stable sort by k keeps file
    order within ties; id = position."""
    pdf = pd.read_parquet(path)
    pdf = pdf.sort_values("k", kind="stable").reset_index(drop=True)
    return dict(zip(pdf["v"], pdf.index))


def test_row_number_ties_break_by_file_order(spark, tmp_path):
    path = _write_tied_parquet(spark, tmp_path)
    df = _read_one_partition(spark, path)
    out = with_global_row_number(df, ["k"], out_col="row_id").collect()
    got = {r["v"]: r["row_id"] for r in out}
    assert got == _expected_ids(path)


def test_projection_numbering_matches_full_width(spark, tmp_path):
    """mate.py prepare_input numbers a slim projection of the probe scan;
    the ids must equal numbering the full-width frame (assumption 2)."""
    path = _write_tied_parquet(spark, tmp_path)
    df = _read_one_partition(spark, path)
    full = {
        r["v"]: r["row_id"]
        for r in with_global_row_number(df, ["k"], out_col="row_id").collect()
    }
    slim = {
        r["v"]: r["row_id"]
        for r in with_global_row_number(
            df.select("k", "v"), ["k"], out_col="row_id"
        ).collect()
    }
    assert slim == full


def _check_min_id_winner(spark, tmp_path, sf_dir, rows):
    """prepare_input over ``rows`` (k, q) written as one file in the given
    order: each query value keeps the mate_row_id of its stable-sort-by-k
    winner (pandas drop_duplicates keep='first' — the min id of the
    group)."""
    from datalake_indexes_spark.plans.queries._base import testdata_index

    df = spark.createDataFrame(rows, "k int, q string")
    path = str(tmp_path / "dupq.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    pdf = pd.read_parquet(path).sort_values("k", kind="stable").reset_index(drop=True)
    pdf["mate_row_id"] = pdf.index
    expected = pdf.groupby("q")["mate_row_id"].min().to_dict()

    mate = MATE(testdata_index(spark, sf_dir))
    out = mate.prepare_input(
        _read_one_partition(spark, path), ["q"], input_order_by=["k"],
        with_super_key=False,
    ).collect()
    got = {r["__q0"]: r["mate_row_id"] for r in out}
    assert got == expected


def test_prepare_input_dedup_keeps_min_id_winner(spark, tmp_path, sf_dir):
    """End-to-end through prepare_input: duplicate query values must keep
    the row whose mate_row_id is the file-order winner."""
    n, tie_width = 120, 6
    # query value repeats across rows; order key has ties spanning
    # different query values, so a tie reorder flips which value wins
    rows = [(i // tie_width, f"q{i % 8}") for i in range(n)]
    _check_min_id_winner(spark, tmp_path, sf_dir, rows)


def test_prepare_input_dedup_min_id_winner_k_out_of_file_order(spark, tmp_path, sf_dir):
    """The same contract when the order key is NOT monotone in file order:
    the tie groups are written in a permuted order, so the stable sort by
    k moves rows across groups and the winner is not the first row in
    the file."""
    n, tie_width = 120, 6
    groups = n // tie_width
    # 7 is coprime to 20 groups: a deterministic permutation of k
    rows = [((i // tie_width) * 7 % groups, f"q{i % 8}") for i in range(n)]
    assert [k for k, _ in rows] != sorted(k for k, _ in rows)
    _check_min_id_winner(spark, tmp_path, sf_dir, rows)
