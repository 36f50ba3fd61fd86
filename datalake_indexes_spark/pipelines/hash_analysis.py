"""Hash-quality sweep — parity with the demo's ``analyze_XASH_alternations``
(demo/datalake_indexes_demo.py:423-464): re-run the joinability search under
different row-fingerprint hash configurations and report each filter's
precision (verified matches / prefilter survivors).

The engine's super keys live in two 64-bit longs, so the sweep covers the
configurations that fit 128 bits: XASH at 64/128 bits x rotation on/off,
the Bloom signature, and the unfiltered 'linear' baseline (the reference's
``hash_function=None``).  XASH 256/512 from the reference sweep would need
an array<long> key — noted, not implemented (the reference itself defaults
to 128).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame

from datalake_indexes_spark.functions.hashes import bloom128
from datalake_indexes_spark.functions.xash import hash_pandas_udf, xash
from datalake_indexes_spark.index.builder import row_keys_for
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.operators.mate import MATE


def _configs() -> dict[str, Callable[[str], int] | None]:
    out: dict[str, Callable[[str], int] | None] = {}
    for hs in (64, 128):
        for rot in (True, False):
            out[f"xash_{hs}{'_rot' if rot else ''}"] = partial(
                xash, hash_size=hs, rotation=rot
            )
    out["bloom_128"] = bloom128
    out["linear"] = None  # no prefilter — precision baseline of 'accept all'
    return out


def analyze_hash_alternatives(
    index: LakeIndex,
    input_df: DataFrame,
    query_columns: list[str],
    k: int = 10,
    k_c: int = 500,
    input_order_by: list[str] | None = None,
) -> DataFrame:
    """One row per hash configuration:
    (config, approved, matches, false_positives, precision, top_score).

    Precision mirrors mate.py:535 (``matches / max(approved, 1)``); the
    row-key table is rebuilt per configuration from the shared cell index
    (the expensive tokenize/unpivot work is reused).
    """
    rows = []
    for name, fn in _configs().items():
        rebuilt_keys = None
        if fn is None:
            idx = index
            mate = MATE(idx)
            use_hash = False
        elif name == "xash_128_rot":
            # the engine default — the input index's (cached, denormalized)
            # row keys ARE this configuration
            idx = index
            mate = MATE(idx)
            use_hash = True
        else:
            # stats run several actions per config — persist the rebuilt
            # keys so the full-lake rehash happens once
            rebuilt_keys = row_keys_for(index.cells, hash_pandas_udf(fn)).persist()
            idx = LakeIndex(
                cells=index.cells,
                row_keys=rebuilt_keys,
                column_headers=index.column_headers,
                table_info=index.table_info,
                col_flags=index.col_flags,
            )
            mate = MATE(idx, hash_function=fn)
            use_hash = True
        stats: dict = {}
        res = mate.join_search(
            input_df,
            query_columns,
            k=k,
            k_c=k_c,
            use_hash_optimization=use_hash,
            input_order_by=input_order_by,
            stats=stats,
        )
        top = res.top_k.limit(1).collect()
        rows.append(
            (
                name,
                stats["total_approved"],
                stats["matching_rows"],
                stats["total_fp"],
                round(stats["precision"], 4),
                int(top[0]["score"]) if top else None,
            )
        )
        if rebuilt_keys is not None:
            rebuilt_keys.unpersist()
    return input_df.sparkSession.createDataFrame(
        rows,
        "config string, approved long, matches long, false_positives long, "
        "precision double, top_score long",
    )
