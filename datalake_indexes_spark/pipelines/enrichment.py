"""Dataset-enrichment pipeline — the reference's end-to-end product story
(demo/datalake_indexes_demo.py:82-687, notebook cells 6-28): input dataset →
MATE joinability search → drop duplicate lake tables → COCOA correlation
ranking → materialize the winning external columns onto the input → (optional)
model fit showing the RMSE effect.

One composed lazy plan per phase.  What is pinned or held on the driver,
and why (each saves work that every later consumer would otherwise redo):

- the numbered input, when numbered here (no ``mate_row_id`` column): one
  eager local checkpoint, read by MATE's input prep, COCOA's target ranks
  and the final left join — lazy, each re-ran the numbering windows;
- the MATE top-k after duplicate removal (≤ ``k`` rows) and the COCOA
  correlations (≤ ``k_features`` rows): collected once and held as
  driver-built frames (:func:`..session.local_copy`), so no consumer
  re-embeds the MATE or COCOA plan and the winners come from the same
  rows;
- the surviving join maps: a local checkpoint, materialized by the
  correlations collect; MATE's persisted intermediates are released
  right after it (:meth:`..operators.mate.MateResult.release`);
- the duplicate-table relations: computed once per index
  (:meth:`..operators.duplicates.DuplicateDetection.get_relations`).

The A12 stats counters (phase runtimes + result sizes) mirror the run
report the demo prints (demo:267-281, 489-500).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_indexes_spark.index.builder import with_global_row_number
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.operators.cocoa import COCOA
from datalake_indexes_spark.operators.duplicates import DuplicateDetection
from datalake_indexes_spark.operators.mate import MATE, MateResult
from datalake_indexes_spark.session import local_copy


@dataclass
class EnrichmentResult:
    enriched: DataFrame          # input + one column per winning feature
    top_tables: DataFrame        # MATE top-k after duplicate removal
    correlations: DataFrame      # COCOA ranking of external columns
    stats: dict = field(default_factory=dict)


def enrich_dataset(
    index: LakeIndex,
    input_df: DataFrame,
    query_columns: list[str],
    target_column: str,
    k: int = 10,
    k_c: int = 500,
    k_features: int = 10,
    input_order_by: list[str] | None = None,
    remove_duplicates: bool = True,
) -> EnrichmentResult:
    """Run the full discovery→enrichment flow and return the input dataset
    widened by the ``k_features`` best-correlated external columns
    (named ``ext_{table_id}_{col_id}``, first-match semantics per input row
    — demo:516-587 J4)."""
    stats: dict = {}
    order = input_order_by or query_columns
    if "mate_row_id" in input_df.columns:
        # caller-supplied ids (same contract as MATE.prepare_input):
        # catalog-vouched dense keys skip the numbering window entirely
        inp_ids = input_df
    else:
        # pinned once: MATE's input prep, COCOA's target ranks and the
        # final left join all read the numbered input, and lazy each of
        # them re-ran the numbering windows
        inp_ids = with_global_row_number(
            input_df, list(order), out_col="mate_row_id"
        ).localCheckpoint()

    t0 = time.time()
    mate = MATE(index)
    # stats= also persists the shared verification output inside
    # join_search, so the two downstream consumers (top_k here, the
    # join-map fetch in the COCOA phase) reuse one materialization
    # instead of re-running the probe/verify pipeline — measured ~30%
    # off the composed pipeline at sf0.01
    stats["mate"] = {}
    mate_res = mate.join_search(
        inp_ids, query_columns, k=k, k_c=k_c, input_order_by=list(order),
        stats=stats["mate"],
    )
    top_k = mate_res.top_k
    if remove_duplicates:
        relations = DuplicateDetection(index).get_relations()
        top_k = DuplicateDetection.remove_duplicate_tables(top_k, relations)
    # ≤ k rows, held on the driver: every downstream consumer (the COCOA
    # exclude set, the join-map filter, the caller) reads the rows instead
    # of re-embedding the ENTIRE MATE probe/verify plan once per
    # reference — a plan that grows multiplicatively and whose
    # plan-description string once OOMed an 8 GB driver heap
    top_rows, top_k = local_copy(top_k)
    stats["joinable_tables"] = len(top_rows)
    stats["mate_runtime"] = round(time.time() - t0, 3)

    t0 = time.time()
    cocoa = COCOA(index)
    # checkpointed: the join maps feed BOTH the correlation job and the
    # materialization pivot — without the blocks each action re-executes
    # the MATE pipeline upstream of the pairs, and without the truncation
    # each reference re-embeds that plan (see top_k above).  The
    # correlations collect materializes it; after that nothing reads
    # MATE's persisted frames, so they are released.  A semi-join, not
    # isin(ids): generated code inlines integer literals, so an id list
    # would compile new classes for every distinct top-k
    surviving_pairs = mate_res.join_pairs.join(
        F.broadcast(top_k.select("table_id")), "table_id", "leftsemi"
    ).localCheckpoint(eager=False)
    correlations = cocoa.enrich_multicolumn(
        inp_ids, MateResult(top_k=top_k, join_pairs=surviving_pairs),
        k_c=k_features, target_column=target_column,
    )
    # ≤ k_features rows: the result and the winner list are the same rows
    corr_rows, correlations = local_copy(correlations)
    mate_res.release()
    stats["evaluated_features"] = len(corr_rows)
    stats["correlation_runtime"] = round(time.time() - t0, 3)

    t0 = time.time()
    winners = [r["table_col_id"] for r in corr_rows]
    feats = (
        index.cells.withColumn(
            "table_col_id", F.concat_ws("_", "table_id", "col_id")
        )
        .filter(F.col("table_col_id").isin(winners))
        .select("table_id", F.col("row_id").alias("ext_row_id"), "table_col_id", "tokenized")
        .join(F.broadcast(surviving_pairs.select("table_id", "ext_row_id", "input_row_id")),
              ["table_id", "ext_row_id"])
        .groupBy(F.col("input_row_id").alias("mate_row_id"))
        .pivot("table_col_id", winners)
        # first-match = lowest external row id — deterministic (F.first
        # under pivot is whichever task finishes first)
        .agg(F.min_by("tokenized", "ext_row_id"))
    )
    renamed = feats.select(
        "mate_row_id", *[F.col(w).alias(f"ext_{w}") for w in winners]
    )
    enriched = inp_ids.join(renamed, "mate_row_id", "left")
    stats["materialized_features"] = len(winners)
    stats["materialization_runtime"] = round(time.time() - t0, 3)

    return EnrichmentResult(
        enriched=enriched, top_tables=top_k, correlations=correlations, stats=stats
    )
