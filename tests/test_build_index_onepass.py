"""build_index is one pass over the lake: every member equals the
reference composition (JVM tokenize unpivot + ``row_keys_for`` + the
table_info/col_flags aggregates over cells), a ``save()`` scans the lake
in one SQL execution, and no frame of the build stays persisted after a
save or an ``uncache()``."""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.hashes import bloom128
from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.functions.xash import hash_pandas_udf, xash_pandas_udf
from datalake_indexes_spark.index.builder import build_index, row_keys_for, unpivot_to_cells
from datalake_indexes_spark.operators.cocoa import is_numeric_flags
from datalake_indexes_spark.plans.runtime import sql_executions
from datalake_indexes_spark.sources.catalog import LakeTableSpec

MEMBERS = ("cells", "row_keys", "column_headers", "table_info", "col_flags")


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """Three single-file tables, one per row-numbering path: a catalog
    dense key (row_id is a projection), a numeric order key (value
    buckets) and a string order key (sampled range).  Nulls, floats (JVM
    cast formatting), unicode, stopwords and >200-char strings."""
    root = tmp_path_factory.mktemp("onepass_lake")
    frames = {
        "dense": spark.createDataFrame(
            [
                (0, "Hello, World!", 1.0e7, None),
                (1, None, 3.14159, "the United  States"),
                (2, "CAFÉ au lait — déjà vu", -0.001, "x" * 300),
                (3, "42", None, "tab\tand\nnewline"),
                (4, "a the of on in", 123456789.0, ""),
            ],
            "rid int, s string, d double, t string",
        ),
        "ordered": spark.createDataFrame(
            [(i * 37 % 101, f"Ω item {i % 5}", i / 7 if i % 3 else None) for i in range(40)],
            "k int, name string, w double",
        ),
        "named": spark.createDataFrame(
            [(f"key{i * 7 % 23:02d}", i % 3, f"Ünï {i}" if i % 4 else None) for i in range(23)],
            "name string, grp int, label string",
        ),
    }
    tables = {}
    for name, df in frames.items():
        path = str(root / f"{name}.parquet")
        df.coalesce(1).write.parquet(path)
        tables[name] = spark.read.parquet(path)
    specs = {
        "dense": LakeTableSpec("dense", 3, ("s", "d", "t"), ("rid",), "rid"),
        "ordered": LakeTableSpec("ordered", 5, ("name", "w", "k"), ("k",)),
        "named": LakeTableSpec("named", 8, ("name", "grp", "label"), ("name",)),
    }
    return tables, specs


@pytest.fixture(scope="module")
def reference_cells(lake):
    """The JVM-tokenized unpivot the build used before the one-pass
    builder, held persisted for the comparisons."""
    tables, specs = lake
    cells = reduce(
        DataFrame.unionByName,
        [unpivot_to_cells(tables[n], s) for n, s in specs.items()],
    ).persist()
    yield cells
    cells.unpersist()


def _reference(spark, cells, specs, hash_udf) -> dict[str, DataFrame]:
    """The members as the build composed them before the one-pass
    builder: a separate hash pass grouped per row, and every aggregate
    over cells."""
    if hash_udf is not None:
        row_keys = row_keys_for(cells, hash_udf)
    else:
        row_keys = cells.groupBy("table_id", "row_id").agg(
            F.lit(0).cast("long").alias("super_key_hi"),
            F.lit(0).cast("long").alias("super_key_lo"),
        )
    names = spark.createDataFrame(
        [(s.table_id, n) for n, s in specs.items()], "table_id int, dataset_name string"
    )
    table_info = (
        cells.groupBy("table_id")
        .agg(
            F.max("row_id").alias("max_row_id"),
            F.max("col_id").cast("int").alias("max_col_id"),
        )
        .join(names, "table_id")
    )
    headers = spark.createDataFrame(
        [(s.table_id, i, c) for s in specs.values() for i, c in enumerate(s.cols)],
        "table_id int, col_id int, header string",
    ).withColumn("header_tokenized", tokenize_col(F.col("header")))
    return {
        "cells": cells,
        "row_keys": row_keys,
        "column_headers": headers,
        "table_info": table_info,
        "col_flags": is_numeric_flags(cells),
    }


@pytest.mark.parametrize(
    "kwargs, hash_udf",
    [
        ({}, xash_pandas_udf()),
        ({"with_super_keys": False}, None),
        ({"hash_function": bloom128}, hash_pandas_udf(bloom128)),
    ],
    ids=["xash", "no_keys", "hash_function"],
)
def test_members_match_reference_composition(spark, lake, reference_cells, kwargs, hash_udf):
    tables, specs = lake
    idx = build_index(spark, tables, specs, **kwargs)
    ref = _reference(spark, reference_cells, specs, hash_udf)
    with idx._shared_held():  # one build for all the comparisons
        for member in MEMBERS:
            got = getattr(idx, member)
            want = ref[member].select(*got.columns)
            diff = got.exceptAll(want).union(want.exceptAll(got))
            assert diff.count() == 0, member
        assert idx.cells.count() == 5 * 3 + 40 * 3 + 23 * 3
        assert idx.row_keys.count() == 5 + 40 + 23
        if hash_udf is not None:  # non-vacuous: real keys, not zeros
            assert idx.row_keys.filter(F.col("super_key_lo") != 0).count() > 0


def _ran(execution, kind: str) -> bool:
    """Whether a plan node of ``kind`` read rows in ``execution``."""
    return any(kind in name and rows for name, _, rows in execution["nodes"])


@pytest.mark.parametrize(
    "kwargs", [{}, {"hash_function": bloom128}], ids=["xash", "hash_function"]
)
def test_save_scans_the_lake_in_one_execution(spark, lake, tmp_path, kwargs):
    """One save() runs one SQL execution per member; the lake parquet is
    read (a scan node with rows) by exactly one of them, and the others
    run no Python UDF — they read the shared keyed frame.  A custom
    ``hash_function`` takes the same fused path as XASH: the cells are
    tokenized inside the hash UDF, so the JVM tokenizer's regexes never
    run over them."""
    tables, specs = lake
    idx = build_index(spark, tables, specs, **kwargs)
    before = max((e["id"] for e in sql_executions(spark)), default=-1)
    idx.save(str(tmp_path / "idx"))
    execs = sql_executions(spark, before)
    assert len(execs) == len(MEMBERS)
    assert [_ran(e, "Scan parquet") for e in execs] == [True] + [False] * 4
    assert _ran(execs[0], "EvalPython")
    assert not any(_ran(e, "EvalPython") for e in execs[1:])
    assert not any("regexp_replace" in desc for _, desc, _ in execs[0]["nodes"])


def test_no_keys_build_runs_no_python(spark, lake, tmp_path):
    """Without super keys the keyed frame is the JVM-tokenized cells:
    no execution of the save() evaluates a Python UDF.  (Two of the
    tables, so the build is not served by the persisted reference.)"""
    tables, specs = lake
    part = {n: specs[n] for n in ("dense", "ordered")}
    idx = build_index(spark, tables, part, with_super_keys=False)
    before = max((e["id"] for e in sql_executions(spark)), default=-1)
    idx.save(str(tmp_path / "idx"))
    execs = sql_executions(spark, before)
    assert _ran(execs[0], "Scan parquet")
    assert not any(_ran(e, "EvalPython") for e in execs)


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_save_and_uncache_release_the_build(spark, lake, tmp_path):
    """The writer holds the keyed frame only while it writes; the lazy
    index still recomputes after the release, and uncache() releases
    whatever cache() added.  (The string-key table is left out: its
    sampled-range numbering pins its own partitioning with a local
    checkpoint, whose blocks count as persisted until the frame is
    garbage-collected.)"""
    tables, specs = lake
    part = {n: specs[n] for n in ("dense", "ordered")}
    baseline = _persisted(spark)
    idx = build_index(spark, tables, part)
    idx.save(str(tmp_path / "a"))
    assert _persisted(spark) == baseline
    assert not idx._shared_keyed.storageLevel.useMemory
    assert idx.cells.count() == 5 * 3 + 40 * 3

    idx.cache()
    idx.save(str(tmp_path / "b"))  # a cached index is left cached
    assert _persisted(spark) > baseline
    idx.uncache()
    assert _persisted(spark) == baseline
    assert not idx._shared_keyed.storageLevel.useMemory
