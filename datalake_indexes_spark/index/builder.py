"""Cell-index build — one pass over the lake (SURVEY.md §3.A).

The reference builds its inverted index with a per-file Python loop that
stringifies, tokenizes, hashes and COPYs row-by-row
(``maco/data_handler.py:258-420``).  Here the whole build is a Spark
pipeline that reads each lake table once: per column one fused
tokenize+XASH Arrow UDF over the JVM string cast, the per-row super key
as a native OR-fold over the wide format, and a ``stack`` unpivot to one
row per cell — no shuffle, no driver-side iteration.  That denormalized
keyed frame is the only lake-sized computation; every index member is a
projection or a small aggregate of it (:func:`index_members`).
"""

from __future__ import annotations

from functools import partial, reduce
from itertools import accumulate

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.functions.xash import tokenize_hash_pandas_udf, xash
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.session import local_frame
from datalake_indexes_spark.sources.catalog import LakeTableSpec


_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def with_global_row_number(df: DataFrame, order_by: list[str], out_col: str = "row_id") -> DataFrame:
    """Deterministic 0-based global row number by a total order — distributed.

    A bare ``row_number() OVER (ORDER BY ...)`` collapses to a single
    partition.  When the leading order key is numeric, rows are bucketed by
    an explicit value-range rule — a *pure function of the data*, unlike
    ``repartitionByRange``'s sampled boundaries — so local ranks and the
    per-bucket offset aggregate can live in ONE lazy plan with no cache and
    no driver-side collect (the only eager work is a narrow min/max scan).
    Bucket skew only affects parallelism, never the assigned numbers.

    Non-numeric leading keys fall back to sampled range partitioning, where
    a local checkpoint + offset collect is what pins the sampled
    assignment (released with the frame, unlike a cache).
    """
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    first = order_by[0]
    dtype = dict(df.dtypes).get(first, "")
    if dtype in _NUMERIC_TYPES:
        mn, mx = df.agg(F.min(first), F.max(first)).first()
        if mn is not None:
            span = float(mx) - float(mn) + 1.0
            # monotone non-decreasing in the key, so bucket boundaries
            # respect the sort order; nulls sort first (Spark asc default)
            bucket = F.least(
                F.lit(n_part - 1),
                F.floor((F.col(first).cast("double") - float(mn)) / span * n_part),
            ).cast("int")
            b = df.withColumn("__pid", F.when(F.col(first).isNull(), -1).otherwise(bucket))
            local = b.withColumn(
                "__local_rn",
                F.row_number().over(Window.partitionBy("__pid").orderBy(*order_by)),
            )
            counts = b.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
            offsets = counts.withColumn(
                "__offset",
                F.coalesce(
                    F.sum("__cnt").over(
                        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            return (
                local.join(F.broadcast(offsets.select("__pid", "__offset")), "__pid")
                .withColumn(
                    out_col, (F.col("__offset") + F.col("__local_rn") - 1).cast("long")
                )
                .drop("__pid", "__local_rn", "__offset")
            )

    ranged = df.repartitionByRange(n_part, *order_by).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.withColumn(
        "__local_rn",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*order_by)),
    )
    # repartitionByRange samples its boundaries; pin the partitioning so the
    # offsets computed below and the final join see the same assignment
    ranged = ranged.localCheckpoint(eager=False)
    counts = (
        ranged.groupBy("__pid").count().orderBy("__pid").collect()
    )
    starts = accumulate([r["count"] for r in counts], initial=0)
    offset_df = local_frame(
        df.sparkSession,
        [(r["__pid"], start) for r, start in zip(counts, starts)],
        "__pid int, __offset long",
    )
    return (
        ranged.join(F.broadcast(offset_df), "__pid")
        .withColumn(out_col, (F.col("__offset") + F.col("__local_rn") - 1).cast("long"))
        .drop("__pid", "__local_rn", "__offset")
    )


def unpivot_to_cells(df: DataFrame, spec: LakeTableSpec, tok_hash_udf=None) -> DataFrame:
    """P7 — wide→long: one output row per cell, tokenized (P1-P3).

    Without ``tok_hash_udf`` tokenization runs as native expressions
    *before* the stack so every column stays inside whole-stage codegen.

    With ``tok_hash_udf`` (fused tokenize+hash,
    :func:`~datalake_indexes_spark.functions.xash.tokenize_hash_pandas_udf`)
    the output additionally carries the per-ROW super key
    (``super_key_hi``/``super_key_lo``) computed entirely inside the
    map stage: every cell of a physical row is produced by the same scan
    task (the stack is row-local), so the OR-fold over the row's cell
    hashes is a native column expression over the wide format — no
    window, no aggregation, NO SHUFFLE.  The previous shape (hash the
    long format, then ``bit_or`` over a (table_id, row_id) window)
    shuffled every tokenized cell and sorted it per row; this one only
    needs a shuffle if the caller wants the output clustered.
    """
    cols = df.select(*dict.fromkeys([*spec.order_by, *spec.cols]))
    if spec.row_id_expr is not None:
        # the catalog vouches the key is the dense 0-based ordinal — row_id
        # is a projection, no row-numbering job at all
        wide = cols.withColumn("row_id", F.col(spec.row_id_expr).cast("long"))
    else:
        wide = with_global_row_number(cols, list(spec.order_by))
    n = len(spec.cols)
    keys = []
    if tok_hash_udf is None:
        toks = [f"__tok_{i}" for i in range(n)]
        wide = wide.select(
            "row_id", *[tokenize_col(F.col(c)).alias(t) for c, t in zip(spec.cols, toks)]
        )
    else:
        # fused tokenize+hash (guide §4.2): one Arrow crossing per column;
        # tokenization and hashing run only over each batch's unique raw
        # values inside the UDF.  The JVM keeps the cast (its string
        # formatting is part of the token contract).
        hashes = [f"__s_{i}" for i in range(n)]
        wide = wide.select(
            "row_id",
            *[tok_hash_udf(F.col(c).cast("string")).alias(h) for c, h in zip(spec.cols, hashes)],
        )
        toks = [f"{h}.tok" for h in hashes]
        hi = reduce(Column.bitwiseOR, [F.col(f"{h}.hi") for h in hashes])
        lo = reduce(Column.bitwiseOR, [F.col(f"{h}.lo") for h in hashes])
        wide = wide.withColumn("super_key_hi", hi).withColumn("super_key_lo", lo)
        keys = ["super_key_hi", "super_key_lo"]
    stack_args = ", ".join(f"{i}, {t}" for i, t in enumerate(toks))
    return (
        wide.selectExpr(
            "row_id", *keys, f"stack({n}, {stack_args}) as (col_id, tokenized)"
        )
        .withColumn("table_id", F.lit(spec.table_id))
        .select("table_id", "col_id", "row_id", "tokenized", *keys)
    )


def build_keyed_cells(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    specs: dict[str, LakeTableSpec],
    hash_size: int = 128,
    rotation: bool = True,
    number_of_ones: int = 5,
    hash_function=None,
    with_super_keys: bool = True,
) -> DataFrame:
    """The denormalized keyed cell view (cells + per-row super key) built
    SHUFFLE-FREE: per-table wide-format hash + native OR-fold inside the
    scan stage (see :func:`unpivot_to_cells`), unioned across the lake.
    The hash — XASH, or a custom ``hash_function`` — runs fused with
    tokenization (one Arrow crossing per column).  With
    ``with_super_keys=False`` it is the plain JVM-tokenized cell frame: no
    key columns and no Python UDF.

    Output partitioning is the scan partitioning — callers that want the
    (table_id, row_id)-clustered layout (exchange-free row joins against
    the cached index) add one explicit ``repartition("table_id",
    "row_id")``, which replaces the old window shuffle 1:1 but drops the
    window's per-row sort+aggregate entirely.
    """
    fn = hash_function or partial(
        xash, hash_size=hash_size, rotation=rotation, number_of_ones=number_of_ones
    )
    tok_hash_udf = tokenize_hash_pandas_udf(fn) if with_super_keys else None
    active = [(n, s) for n, s in specs.items() if n in tables]
    if not active:
        raise ValueError("build_index: no tables to index (empty lake)")
    from concurrent.futures import ThreadPoolExecutor

    # per-table prep runs in threads: row numbering by an order key runs
    # a small eager job per table, which Spark then schedules concurrently
    with ThreadPoolExecutor(max_workers=min(len(active), 8) or 1) as pool:
        parts = list(
            pool.map(
                lambda ns: unpivot_to_cells(tables[ns[0]], ns[1], tok_hash_udf),
                active,
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def lake_headers(spark: SparkSession, tables: dict[str, DataFrame],
                 specs: dict[str, LakeTableSpec]) -> DataFrame:
    """(table_id, col_id, header, header_tokenized) for the active lake —
    driver-side metadata in one tiny JVM-local frame, tokenized by the
    JVM tokenizer."""
    header_rows = [
        (spec.table_id, col_id, col)
        for name, spec in specs.items()
        if name in tables
        for col_id, col in enumerate(spec.cols)
    ]
    return local_frame(
        spark, header_rows, "table_id int, col_id int, header string"
    ).withColumn("header_tokenized", tokenize_col(F.col("header")))


def index_members(
    spark: SparkSession,
    keyed: DataFrame,
    tables: dict[str, DataFrame],
    specs: dict[str, LakeTableSpec],
    with_super_keys: bool = True,
) -> dict[str, DataFrame]:
    """The index members of a keyed cell frame (:func:`build_keyed_cells`):
    ``cells`` is its projection; ``row_keys`` is its ``col_id == 0`` slice
    — every physical row has a col-0 cell and ``(table_id, row_id)`` is
    unique per row, so the slice is one row per lake row with no
    aggregation (zero keys when ``with_super_keys=False``);
    ``table_info`` and ``col_flags`` aggregate over it; the headers come
    from the specs."""
    from datalake_indexes_spark.operators.cocoa import is_numeric_flags

    cells = keyed.select("table_id", "col_id", "row_id", "tokenized")
    if with_super_keys:
        hi, lo = F.col("super_key_hi"), F.col("super_key_lo")
    else:
        hi = lo = F.lit(0).cast("long")
    row_keys = keyed.filter(F.col("col_id") == 0).select(
        "table_id", "row_id", hi.alias("super_key_hi"), lo.alias("super_key_lo")
    )
    table_names = local_frame(
        spark,
        [(spec.table_id, name) for name, spec in specs.items() if name in tables],
        "table_id int, dataset_name string",
    )
    table_info = (
        keyed.groupBy("table_id")
        .agg(
            F.max("row_id").alias("max_row_id"),
            F.max("col_id").cast("int").alias("max_col_id"),
        )
        .join(F.broadcast(table_names), "table_id")
        .select("table_id", "dataset_name", "max_row_id", "max_col_id")
    )
    return {
        "cells": cells,
        "row_keys": row_keys,
        "column_headers": lake_headers(spark, tables, specs),
        "table_info": table_info,
        "col_flags": is_numeric_flags(cells),
    }


def row_keys_for(cells: DataFrame, hash_udf) -> DataFrame:
    """Per-row super keys of an existing cell frame from any (hi, lo) hash
    UDF: OR-fold over the row's cell hashes (data_handler.py:280-283) —
    for cells that were not built keyed (folder ingest) and for
    re-keying an index under another ``hash_function``
    (data_handler.py:89,109)."""
    keyed = cells.withColumn("__h", hash_udf(F.col("tokenized")))
    return keyed.groupBy("table_id", "row_id").agg(
        F.bit_or(F.col("__h.hi")).alias("super_key_hi"),
        F.bit_or(F.col("__h.lo")).alias("super_key_lo"),
    )


def token_stats_for(
    cells: DataFrame, threshold: int = 100_000, cap: int = 1024
) -> DataFrame:
    """(tokenized, cnt) for the ``cap`` hottest tokens with ≥ ``threshold``
    postings — the index-time statistic behind MATE's hot-token salting
    (a token-equi shuffle join funnels each of these through one task).
    One map-side-combined aggregation; the output is ≤ cap rows."""
    return (
        cells.groupBy("tokenized")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= threshold)
        .orderBy(F.desc("cnt"), F.asc("tokenized"))
        .limit(cap)
    )


def build_index(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    specs: dict[str, LakeTableSpec],
    with_super_keys: bool = True,
    hash_size: int = 128,
    rotation: bool = True,
    number_of_ones: int = 5,
    hash_function=None,
    with_token_stats: bool = False,
    hot_token_threshold: int = 100_000,
) -> LakeIndex:
    """Build the full LakeIndex from raw lake tables.

    Mirrors ``DataHandler.update_index`` (data_handler.py:641-651) in one
    pass: the keyed cell frame (:func:`build_keyed_cells` — fused
    tokenize+hash per column with XASH or ``hash_function``, and the
    per-row OR-fold of data_handler.py:280-283) is the single
    lake-sized computation, and every member is derived from it
    (:func:`index_members`).  The index stays lazy; the frame is
    registered as the index's shared frame, so ``save``/
    ``save_version``/``upsert_into`` materialize it once for all their
    member writes and release it afterwards, and ``uncache`` releases it.
    Without super keys the frame carries no keys and runs no Python UDF.
    """
    keyed = build_keyed_cells(
        spark, tables, specs, hash_size=hash_size, rotation=rotation,
        number_of_ones=number_of_ones, hash_function=hash_function,
        with_super_keys=with_super_keys,
    )
    idx = LakeIndex(**index_members(spark, keyed, tables, specs, with_super_keys))
    if with_token_stats:
        idx.token_stats = token_stats_for(idx.cells, threshold=hot_token_threshold)
    idx._shared_keyed = keyed
    return idx
