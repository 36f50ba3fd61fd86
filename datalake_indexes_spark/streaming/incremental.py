"""Structured Streaming — incremental index maintenance + event analytics
(extension surface; the reference is strictly batch, SURVEY.md §2.9: its
``update_index()`` re-runs the folder walk, data_handler.py:641-651).

Two streaming shapes:

- :func:`incremental_index_stream` — the reference's index refresh as a
  stream: new parquet files landing in a lake folder are tokenized,
  unpivoted and super-keyed per micro-batch (the builder's one-pass keyed
  unpivot) and appended to the persisted index.  ``foreachBatch`` is
  required because one input feeds two sinks (cells + row_keys).
- :func:`windowed_event_counts` — watermarked tumbling-window aggregation
  over an event stream (late data dropped after the watermark), the
  streaming twin of the batch ``events_window_agg`` query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datalake_indexes_spark.index.builder import build_keyed_cells
from datalake_indexes_spark.sources.catalog import LakeTableSpec


def make_index_batch_processor(spec: LakeTableSpec, index_path: str):
    """Build the ``foreachBatch`` function used by
    :func:`incremental_index_stream` (exposed so tests can replay a batch
    id and assert retry idempotency).

    Idempotency contract: both sinks are partitioned by ``(table_id,
    batch_id)`` and written with dynamic partition OVERWRITE, so a
    micro-batch retried after a crash between the two writes replaces its
    own leaf only — including when several per-table streams share one
    ``index_path``: each stream's batch counter starts at 0, so
    partitioning by ``batch_id`` alone would let one table's batch N
    silently delete every other table's rows in that partition.  The
    row-id offset query excludes the current batch_id, so a retry
    recomputes the same offset.  Only a genuine missing-index path falls
    back to offset 0 — any other read failure of an existing index
    propagates instead of silently restarting row ids at 0 (which would
    collide with indexed rows).  Indexes written by the pre-``batch_id``
    append-mode layout are readable: their rows count as batch_id = -1
    (always prior) for the offset computation.
    """
    from pyspark.errors import AnalysisException

    cells_path = os.path.join(index_path, "cells")
    keys_path = os.path.join(index_path, "row_keys")

    def _sink_layout(path: str, df: DataFrame) -> str:
        """Classify the on-disk layout of an existing sink: ``"current"``
        for (table_id, batch_id) partitioning, ``"flat"`` for the original
        append-mode layout (no batch_id at all), ``"batch_only"`` for the
        interim layout partitioned by batch_id alone (batch_id shows up as
        a partition column but no ``table_id=`` dirs exist)."""
        if "batch_id" not in df.columns:
            return "flat"
        entries = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
        if any(e.startswith("table_id=") for e in entries):
            return "current"
        return "batch_only"

    def migrate_legacy(sess: SparkSession, path: str) -> DataFrame:
        """One-time in-place migration of a legacy sink into the
        (table_id, batch_id)-partitioned layout.  Handles BOTH legacy
        shapes: the append-mode layout (no batch_id → rows become
        batch_id = -1, always prior) and the batch_id-only partitioning
        (kept batch ids, repartitioned to include table_id — leaving it
        would mix partition-directory depths and break every later read).

        Crash-safe swap: the old dir is renamed aside (``.__legacy``)
        before the staged dir (``.__migrating``) is published, so no crash
        window leaves the index path empty; an interrupted run is repaired
        at the top of the next call (a complete orphaned staging dir is
        published, stale leftovers next to a live dir are dropped).
        Necessary because Spark cannot read a directory mixing bare
        parquet files with partition subdirectories; object-store
        deployments should migrate offline instead."""
        import shutil as _shutil

        tmp = path.rstrip("/") + ".__migrating"
        backup = path.rstrip("/") + ".__legacy"
        if os.path.exists(path):
            # Leftovers beside a live dir: either a finished migration
            # that crashed before deleting its backup, or a partial
            # staging write — the live dir wins, drop them.
            for stale in (tmp, backup):
                if os.path.exists(stale):
                    _shutil.rmtree(stale)
        elif os.path.exists(tmp):
            # Crashed between renaming the old dir aside and publishing
            # the staged one.  The staging write completed before the old
            # dir was touched, so publish it — falling through to the
            # caller's PATH_NOT_FOUND handler here would silently restart
            # row ids at offset 0 and corrupt the index.
            os.rename(tmp, path)
            if os.path.exists(backup):
                _shutil.rmtree(backup)

        df = sess.read.parquet(path)
        layout = _sink_layout(path, df)
        if layout == "current":
            return df
        if layout == "flat":
            df = df.withColumn("batch_id", F.lit(-1))
        (
            df.write.mode("overwrite")
            .partitionBy("table_id", "batch_id")
            .parquet(tmp)
        )
        os.rename(path, backup)
        os.rename(tmp, path)
        _shutil.rmtree(backup)
        return sess.read.parquet(path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        try:
            existing = migrate_legacy(sess, cells_path)
            try:
                migrate_legacy(sess, keys_path)
            except AnalysisException:
                pass  # row_keys sink may not exist yet (crash window)
            offset_row = (
                existing.filter(
                    (F.col("table_id") == spec.table_id)
                    & (F.col("batch_id") < batch_id)
                )
                .agg(F.max("row_id"))
                .collect()[0]
            )
            offset = (offset_row[0] + 1) if offset_row[0] is not None else 0
        except AnalysisException as exc:  # first batch: no index yet
            msg = str(exc)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
            offset = 0
        # row_id is unique per batch (a row number over the batch, or the
        # catalog-vouched dense key) and the offset shifts every row
        # alike, so (table_id, row_id) stays unique and row_keys is the
        # col_id == 0 slice of the keyed cells — no second hash pass
        keyed = (
            build_keyed_cells(sess, {spec.name: batch_df}, {spec.name: spec})
            .withColumn("row_id", F.col("row_id") + F.lit(offset))
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            for path, rows in (
                (cells_path, keyed.select("table_id", "col_id", "row_id", "tokenized", "batch_id")),
                (keys_path, keyed.filter(F.col("col_id") == 0).select(
                    "table_id", "row_id", "super_key_hi", "super_key_lo", "batch_id"
                )),
            ):
                (
                    rows.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("table_id", "batch_id")
                    .parquet(path)
                )
        finally:
            # a failed write (the retry crash window) must not leak the
            # cached batch — retries would accumulate cached copies
            keyed.unpersist()

    return process_batch


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    spec: LakeTableSpec,
    index_path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Append newly-arrived files of one lake table to the persisted index.

    Row ids restart per micro-batch offset: the current max row_id over
    PRIOR batches of the persisted index is read at batch start and new
    rows continue from there, so (table_id, row_id) stays unique across
    the stream — the streaming equivalent of the reference's monotone
    rowid counter (data_handler.py:277).

    Idempotency: both sinks are partitioned by ``(table_id, batch_id)``
    and written with dynamic partition OVERWRITE, so a micro-batch retried
    after a crash between the two writes replaces its own leaf instead of
    appending duplicates — and per-table streams can safely share one
    ``index_path``; the offset query excludes the current batch_id, so the
    retry also recomputes the same row-id offset.  Only a genuine
    missing-index path falls back to offset 0 — any other read failure of
    an existing index propagates instead of silently restarting row ids.
    """
    stream = spark.readStream.schema(schema).parquet(input_dir)
    process_batch = make_index_batch_processor(spec, index_path)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(spark: SparkSession, index_path: str) -> dict:
    """Small-file compaction for the streaming sink — the OPTIMIZE step.

    Every micro-batch adds a ``batch_id=N`` leaf per table; a long-running
    stream accumulates thousands of small files per table and scan task
    counts grow with batch count, not data size.  Compaction rewrites each
    sink with all prior batches folded into the ``batch_id = -1``
    consolidated leaf (the same "always prior" id legacy rows use), one
    file per table partition.

    Crash-safe like migrate_legacy: stage → rename old aside → publish →
    drop backup; an interrupted run is repaired by the next batch's
    migrate_legacy pass (which already publishes orphaned staging dirs).
    Row ids are untouched, so the offset contract (max over prior batches)
    is preserved — the next live batch simply continues after the
    consolidated rows.  Returns per-sink file counts before/after.
    """
    import shutil as _shutil

    stats: dict = {}
    for name in ("cells", "row_keys"):
        path = os.path.join(index_path, name)
        if not os.path.isdir(path):
            continue
        df = spark.read.parquet(path)
        if "batch_id" not in df.columns:
            continue  # pre-batch layout: nothing to fold
        n_before = sum(len(fs) for _, _, fs in os.walk(path))
        tmp = path + ".__migrating"
        backup = path + ".__legacy"
        for stale in (tmp, backup):
            if os.path.exists(stale):
                _shutil.rmtree(stale)
        (
            df.withColumn("batch_id", F.lit(-1))
            .repartition("table_id")
            .write.mode("overwrite")
            .partitionBy("table_id", "batch_id")
            .parquet(tmp)
        )
        os.rename(path, backup)
        os.rename(tmp, path)
        _shutil.rmtree(backup)
        stats[name] = {
            "files_before": n_before,
            "files_after": sum(len(fs) for _, _, fs in os.walk(path)),
        }
    return stats


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type over a streaming
    (or batch — same plan) events DataFrame.

    With nanosAsLong in effect the raw ``ts`` is int64 nanoseconds; it is
    converted to a proper timestamp first (exact integer math, no double
    rounding).
    """
    dtype = dict(events.dtypes).get(ts_col)
    if dtype == "bigint":
        # integer floor division: /1000 in doubles rounds the last
        # microsecond, and bare `div` truncates toward zero (wrong
        # microsecond for pre-1970 nanos)
        ts = F.timestamp_micros(F.expr(f"({ts_col} - pmod({ts_col}, 1000)) div 1000"))
    elif dtype == "timestamp_ntz":
        # watermarks demand TIMESTAMP; pin the naive wall-clock as UTC
        # (explicit tz, so the mapping is session-timezone independent)
        ts = F.to_utc_timestamp(F.col(ts_col), "UTC")
    else:
        ts = F.col(ts_col)
    df = events.withColumn("__ts", ts)
    if events.isStreaming:
        df = df.withWatermark("__ts", watermark)
    return (
        df.groupBy(F.window("__ts", window).alias("window"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
