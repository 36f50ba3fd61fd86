"""SparkSession factory with engine defaults.

Defaults are tuned for correctness-at-scale first:
- AQE on (runtime re-planning, skew-join handling, shuffle coalescing),
- Arrow on (all our Python crossings are pandas UDFs),
- a compiled-code cache large enough to hold a whole enrichment's
  whole-stage-codegen classes across calls,
- shuffle partitions sized by env (tests use small values; a real cluster
  would set this to ~2-3x total cores).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "datalake_indexes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size reducers by BYTES, not by a fixed count: shuffles start at
        # initialPartitionNum and AQE coalesces to ~advisory-sized (64 MB)
        # partitions per stage.  With a bare shuffle.partitions=N every
        # shuffle gets exactly N reducers no matter how big it is — the
        # round-7 10x exercise caught cocoa_enrich_multicolumn spilling
        # 12 GB through 32 evenly-loaded reducers whose sort buffers
        # outgrew their memory share (examples/scale10x_exercise.py).
        # 8x the base count keeps small stages cheap (AQE coalesces them
        # right back down) while letting big stages fan out.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(  # env override for A/B runs (bench pinning)
                "SPARK_AQE_INITIAL_PARTITIONS",
                str(max(256, shuffle_partitions * 8)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalescing is byte-aware but CPU-blind: with the default
        # 1 MB minPartitionSize it shrank the XASH Arrow-UDF stage to 10
        # tasks on 32 cores (1.3 MB of shuffled cells carrying 33 s of
        # hashing CPU).  parallelismFirst=true already prefers cluster
        # parallelism over the advisory size when coalescing — a 64 KB
        # floor lets small-byte/heavy-CPU stages actually reach it, while
        # large stages are untouched (the floor only binds when
        # partitions would drop below it).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        # let AQE coalesce the output partitioning of plans that feed a
        # cache: without this (default false) a cached shuffle keeps all
        # initialPartitionNum (256+) reducer partitions, and EVERY
        # downstream job over the cache relaunches that many tasks over
        # kilobyte slices — measured at sf0.1: the index cache read back
        # at 256 partitions cost row_keys/col_flags/table_info passes
        # 2-3s each in pure task-scheduling overhead; with coalescing the
        # cache lands at ~cluster parallelism and the same passes run
        # 0.7-1.1s.  Coalescing merges whole reducer buckets, so hash
        # clustering (and the exchange-free row joins that depend on it)
        # is preserved.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_AQE_CACHED_REPARTITION", "true"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # (nanos since epoch) and convert explicitly where needed
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Every action builds the plan-description string for the SQL
        # execution event (even with the UI off).  Unbounded (the default,
        # ~2^31 chars), a deeply composed pipeline whose consumers each
        # re-embed a big upstream subtree (enrichment: COCOA branches x the
        # MATE probe/verify plan) OOMed an 8 GB driver heap inside
        # QueryExecution.explainString — reproduced as the round-9
        # test_enrich_dataset_end_to_end failure.  8M chars is far more
        # than any debugging read needs and caps the allocation.
        .config(
            "spark.sql.maxPlanStringLength",
            os.environ.get("SPARK_MAX_PLAN_STRING_LENGTH", "8388608"),
        )
        # Compiled codegen classes are cached per JVM in an LRU of
        # spark.sql.codegen.cache.maxEntries entries (default 100).  One
        # enrich_dataset call needs 120-300 distinct classes, so at 100
        # the LRU evicted them within the same call and every warm enrich
        # operation compiled 317-353 classes again (perfbench lake, seed
        # 5, scripts/op_counts.py, plans/r15/).  At 2000 the first
        # operation compiles 270, the second 72-80 and later ones 3-42: only
        # the classes of an input shape not seen before.  A static conf:
        # it takes effect only when set before the session's JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # env override so profiling runs can read stage metrics over the
        # UI REST API; off by default (bench/tests unchanged)
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small driver-built frame with no Python RDD behind it.

    ``createDataFrame(list)`` parallelizes the rows into a Python RDD, so
    every evaluation of the frame runs Python worker tasks.  Here the rows
    travel as ONE JSON literal that ``from_json`` + ``inline`` expand in
    the JVM (the optimizer folds it to a constant array): a fixed number of
    py4j calls per frame whatever its row count.  ``schema`` is a DDL
    string such as ``"table_id int, header string"``; an empty ``rows``
    gives an empty frame of that schema.  The literal travels with every
    plan that carries it, so this is for metadata-sized inputs."""
    from pyspark.sql.types import _parse_datatype_string

    names = _parse_datatype_string(schema).names
    payload = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(F.from_json(F.lit(payload), f"array<struct<{schema}>>"))
    )


def local_copy(df: DataFrame) -> tuple[list, DataFrame]:
    """``df``'s rows, collected once, and a :func:`local_frame` holding
    them with ``df``'s column names, types and row order: the frame reads
    the rows instead of re-running ``df``'s plan.  For results known to
    be small (a top-k, a ranking, metadata)."""
    rows = df.collect()
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    return rows, local_frame(df.sparkSession, [tuple(r) for r in rows], schema)
