"""Single-job many-table ingestion — S6 at the reference's headline regime.

The reference's GitTables demo walks ~1M small CSV files in a driver-side
Python loop, one file at a time (``maco/demo/index_gittables.py:9-33``
feeding ``maco/data_handler.py:362-420``).  A per-table loop — even behind a
thread pool — builds one plan (and often one job) per table, which is a
non-starter at 10^6 tables.  Here the whole folder is ONE declarative job:

- **CSV/TSV** (the GitTables shape): ``spark.read.text(globs,
  wholetext=True)`` turns every file into a single row; one Arrow-batched
  ``mapInPandas`` parses each file with Python's C ``csv`` reader (dialect
  sniffed per file, quoting handled) and emits ``(path, row_id, col_id,
  value)`` cell rows, with header rows carried as ``row_id = -1``.  Spark
  packs many small files into each input partition
  (``spark.sql.files.openCostInBytes``), so task count is executor-bound,
  not file-bound.
- **Parquet** (one glob per schema group): ``spark.read.parquet(glob)``,
  ``input_file_name()``-derived table identity, per-file ``row_number``
  windows — each file is small by regime, so a per-path window partition is
  both correct and fully parallel across files.

Table ids are assigned *distributedly*: dense ranks over the distinct file
paths (range-partitioned row numbering, no global single-partition window),
joined back onto the cell stream — AQE broadcasts the id map when it is
small and shuffles when it is not.  The only driver-side work for the whole
lake is the glob listing itself.

Measured (local, shared host): 1500 heterogeneous CSV tables → full
LakeIndex (cells + super keys + table_info) in ~22 s including session
startup — per-table cost is ~14 ms of distributed work with no driver-side
component, so wall-clock at 1M tables is executor-count bound, not
driver-bound.
"""

from __future__ import annotations

import glob as _glob
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.functions.xash import hash_pandas_udf, xash
from datalake_indexes_spark.index.builder import row_keys_for, with_global_row_number
from datalake_indexes_spark.index.lake_index import LakeIndex

_CSV_DELIMS = ",;\t|"
_PARSED_SCHEMA = "path string, row_id long, col_id int, value string"
# flush threshold for the parser's output batches — bounds executor memory
# regardless of how many small files Spark packed into one input partition
_FLUSH_CELLS = 200_000

HEADER_ROW_ID = -1


def _sniff_delim(first_line: str) -> str:
    """Per-file dialect sniff (S1 semantics, executor-side)."""
    import csv

    try:
        return csv.Sniffer().sniff(first_line, delimiters=_CSV_DELIMS).delimiter
    except csv.Error:
        counts = {d: first_line.count(d) for d in _CSV_DELIMS}
        best = max(counts, key=counts.get)
        return best if counts[best] > 0 else ","


def _make_csv_parser(flush_cells: int = _FLUSH_CELLS):
    """Build the mapInPandas worker: whole-file rows in, cell rows out.

    Header cells are emitted with ``row_id = -1``; data rows are padded /
    truncated to the header width (the reference stringifies rectangles,
    data_handler.py:258-303).  Empty fields become NULL cells — the
    downstream tokenizer renders them as the empty token, same as the
    per-table path.  ``flush_cells`` bounds the output-frame size (a
    closure parameter so the pickled worker carries it to executors and
    tests can force multi-yield batches).
    """

    def parse(batches):
        import csv
        import io

        import pandas as pd

        paths: list[str] = []
        row_ids: list[int] = []
        col_ids: list[int] = []
        values: list[str | None] = []

        def flush():
            frame = pd.DataFrame(
                {
                    "path": pd.Series(paths, dtype="object"),
                    "row_id": pd.Series(row_ids, dtype="int64"),
                    "col_id": pd.Series(col_ids, dtype="int32"),
                    "value": pd.Series(values, dtype="object"),
                }
            )
            paths.clear(), row_ids.clear(), col_ids.clear(), values.clear()
            return frame

        for pdf in batches:
            for path, text in zip(pdf["path"], pdf["value"]):
                if not text:
                    continue  # P5 — empty file, quarantine by omission
                first = text.split("\n", 1)[0].rstrip("\r")
                delim = _sniff_delim(first)
                reader = csv.reader(io.StringIO(text, newline=""), delimiter=delim)
                header = next(reader, None)
                if not header:
                    continue
                width = len(header)
                for ci, name in enumerate(header):
                    paths.append(path)
                    row_ids.append(HEADER_ROW_ID)
                    col_ids.append(ci)
                    values.append(name)
                ri = 0
                for row in reader:
                    if not row:
                        continue  # blank line
                    padded = row[:width] + [None] * (width - len(row))
                    for ci in range(width):
                        v = padded[ci]
                        paths.append(path)
                        row_ids.append(ri)
                        col_ids.append(ci)
                        values.append(None if v == "" or v is None else v)
                    ri += 1
                if len(values) >= flush_cells:
                    yield flush()
        if values:
            yield flush()

    return parse


def _make_arff_parser(flush_cells: int = _FLUSH_CELLS):
    """mapInPandas worker for ARFF files (S5 in the single-job folder walk
    — same parse rules as the curated :func:`..readers.read_arff` path:
    quoted @attribute names, ``%`` comments, ``?`` → NULL, single-quote
    CSV data section).  Attribute names become header cells at
    ``row_id = -1``; data rows are truncated/padded to attribute width."""

    def parse(batches):
        import csv
        import re

        import pandas as pd

        attr_re = re.compile(
            r"@attribute\s+(?:'([^']*)'|\"([^\"]*)\"|(\S+))", re.IGNORECASE
        )
        paths: list[str] = []
        row_ids: list[int] = []
        col_ids: list[int] = []
        values: list[str | None] = []

        def flush():
            frame = pd.DataFrame(
                {
                    "path": pd.Series(paths, dtype="object"),
                    "row_id": pd.Series(row_ids, dtype="int64"),
                    "col_id": pd.Series(col_ids, dtype="int32"),
                    "value": pd.Series(values, dtype="object"),
                }
            )
            paths.clear(), row_ids.clear(), col_ids.clear(), values.clear()
            return frame

        for pdf in batches:
            for path, text in zip(pdf["path"], pdf["value"]):
                if not text:
                    continue
                cols: list[str] = []
                in_data = False
                ri = 0
                for line in text.split("\n"):
                    line = line.strip()
                    if not line or line.startswith("%"):
                        continue
                    low = line.lower()
                    if low.startswith("@attribute"):
                        m = attr_re.match(line)
                        if m:
                            cols.append(
                                next(g for g in m.groups() if g is not None)
                            )
                    elif low.startswith("@data"):
                        if not cols:
                            break  # malformed: no attributes — quarantine
                        in_data = True
                        for ci, name in enumerate(cols):
                            paths.append(path)
                            row_ids.append(HEADER_ROW_ID)
                            col_ids.append(ci)
                            values.append(name)
                    elif in_data:
                        vals = next(csv.reader([line], quotechar="'"))
                        padded = vals[: len(cols)] + [None] * (len(cols) - len(vals))
                        for ci in range(len(cols)):
                            v = padded[ci]
                            paths.append(path)
                            row_ids.append(ri)
                            col_ids.append(ci)
                            values.append(None if v in ("?", "", None) else v)
                        ri += 1
                if len(values) >= flush_cells:
                    yield flush()
        if values:
            yield flush()

    return parse


def _wholetext_cells(
    spark: SparkSession,
    patterns: list[str],
    parser,
    recursive: bool = False,
) -> DataFrame:
    """One wholetext read over ``patterns`` fed through an Arrow-batched
    per-file parser → the long ``(path, row_id, col_id, value)`` stream."""
    # NB: must be the `wholetext=` kwarg — `.option("wholetext", ...)` is
    # silently ignored by the PySpark 4 classic reader's text() path
    if recursive:
        parts = []
        for pattern in patterns:
            folder, fname = os.path.split(pattern)
            parts.append(
                spark.read.option("recursiveFileLookup", "true")
                .option("pathGlobFilter", fname)
                .text(folder, wholetext=True)
            )
        raw = parts[0]
        for p in parts[1:]:
            raw = raw.unionByName(p)
    else:
        raw = spark.read.text(patterns, wholetext=True)
    raw = raw.select(F.input_file_name().alias("path"), "value")
    return raw.mapInPandas(parser, schema=_PARSED_SCHEMA)


def csv_cells_raw(
    spark: SparkSession,
    patterns: list[str],
    recursive: bool = False,
    flush_cells: int = _FLUSH_CELLS,
) -> DataFrame:
    """All CSV/TSV files matching ``patterns`` as one long cell stream:
    ``(path, row_id, col_id, value)`` with headers at ``row_id = -1``.

    ``recursive=True`` walks the whole tree under each pattern's directory
    (``recursiveFileLookup`` + a ``pathGlobFilter`` per extension) — real
    GitTables-style lakes nest files in per-repo subdirectories.

    Regime note: ``wholetext`` makes each FILE one task-resident row, so
    this path is for lakes of many small files (the GitTables shape).  A
    single multi-GB CSV belongs on the splittable
    :func:`..readers.read_table` path instead."""
    return _wholetext_cells(
        spark, patterns, _make_csv_parser(flush_cells), recursive=recursive
    )


def arff_cells_raw(
    spark: SparkSession,
    patterns: list[str],
    recursive: bool = False,
    flush_cells: int = _FLUSH_CELLS,
) -> DataFrame:
    """All ARFF files matching ``patterns`` as the same long cell stream
    (reference dispatches ``.arff`` in its folder walk,
    data_handler.py:374-389, 518-547)."""
    return _wholetext_cells(
        spark, patterns, _make_arff_parser(flush_cells), recursive=recursive
    )


def typed_glob_cells(
    spark: SparkSession,
    pattern: str,
    fmt: str = "parquet",
    cols: list[str] | None = None,
    order_by: list[str] | None = None,
    schema=None,
) -> DataFrame:
    """One schema group of typed files (parquet/json/orc/csv-with-schema)
    as the same long cell stream.

    ``order_by`` defines the deterministic in-file row order (defaults to
    all indexed columns); row ids come from a per-file ``row_number``
    window — files are small by regime, so each window partition is one
    small file and the job parallelizes across files, not within them.
    For JSON, pass an explicit ``schema`` at real scale: schema inference
    is itself a full extra pass over every file.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(pattern)
    data_cols = list(cols) if cols else list(df.columns)
    order = list(order_by) if order_by else data_cols
    wide = df.select(*dict.fromkeys([*order, *data_cols])).withColumn(
        "path", F.input_file_name()
    )
    w = Window.partitionBy("path").orderBy(*order)
    wide = wide.withColumn("row_id", (F.row_number().over(w) - 1).cast("long"))
    str_cols = [F.col(c).cast("string").alias(f"__s_{i}") for i, c in enumerate(data_cols)]
    wide = wide.select("path", "row_id", *str_cols)
    stack_args = ", ".join(f"{i}, __s_{i}" for i in range(len(data_cols)))
    cells = wide.selectExpr(
        "path",
        "row_id",
        f"stack({len(data_cols)}, {stack_args}) as (col_id, value)",
    ).select("path", "row_id", F.col("col_id").cast("int").alias("col_id"), "value")

    headers = (
        cells.select("path")
        .distinct()
        .crossJoin(
            spark.createDataFrame(
                [(HEADER_ROW_ID, ci, name) for ci, name in enumerate(data_cols)],
                "row_id long, col_id int, value string",
            )
        )
        .select("path", "row_id", "col_id", "value")
    )
    return cells.unionByName(headers)


def dense_table_ids(parsed: DataFrame, id_offset: int = 0) -> DataFrame:
    """Deterministic dense int table ids over the distinct file paths —
    a distributed row-numbering job, never a driver-side enumerate."""
    paths = parsed.select("path").distinct()
    ids = with_global_row_number(paths, ["path"], out_col="__tid")
    return ids.select(
        "path", (F.col("__tid") + id_offset).cast("int").alias("table_id")
    )


def _dataset_name(path_col) -> "F.Column":
    base = F.element_at(F.split(path_col, "/"), -1)
    return F.regexp_replace(base, r"\.[^.]*$", "")


def assemble_index(
    spark: SparkSession,
    parsed: DataFrame,
    with_super_keys: bool = True,
    hash_size: int = 128,
    rotation: bool = True,
    number_of_ones: int = 5,
    hash_function=None,
    id_offset: int = 0,
    staging_dir: str | None = None,
) -> LakeIndex:
    """LakeIndex from a long ``(path, row_id, col_id, value)`` stream.

    Header-only tables (no data rows) are dropped entirely — the
    reference's empty-table skip (P5, data_handler.py:387-401).  Every
    index member derives from the parsed stream, so it must be
    materialized once: by default it is memory/disk-persisted (right for
    lakes that fit executor storage); pass ``staging_dir`` to write it to
    parquet and re-read instead — the 100 TB shape, where re-parsing or
    caching the whole lake's long form is not an option.
    """
    if staging_dir is not None:
        parsed.write.mode("overwrite").parquet(staging_dir)
        parsed = spark.read.parquet(staging_dir)
    else:
        parsed = parsed.persist()
    data_paths = parsed.filter(F.col("row_id") >= 0).select("path").distinct()
    ids = dense_table_ids(
        parsed.join(data_paths, "path", "left_semi"), id_offset=id_offset
    ).persist()

    cells = (
        parsed.filter(F.col("row_id") >= 0)
        .join(ids, "path")
        .select(
            "table_id",
            "col_id",
            "row_id",
            tokenize_col(F.col("value")).alias("tokenized"),
        )
    )
    headers = (
        parsed.filter(F.col("row_id") == HEADER_ROW_ID)
        .join(ids, "path")
        .select(
            "table_id",
            "col_id",
            F.col("value").alias("header"),
            tokenize_col(F.col("value")).alias("header_tokenized"),
        )
    )
    table_info = (
        cells.groupBy("table_id")
        .agg(
            F.max("row_id").alias("max_row_id"),
            F.max("col_id").cast("int").alias("max_col_id"),
        )
        .join(ids.select("table_id", _dataset_name(F.col("path")).alias("dataset_name")), "table_id")
        .select("table_id", "dataset_name", "max_row_id", "max_col_id")
    )

    if with_super_keys:
        row_keys = row_keys_for(cells, hash_pandas_udf(hash_function or partial(
            xash, hash_size=hash_size, rotation=rotation, number_of_ones=number_of_ones
        )))
    else:
        row_keys = cells.groupBy("table_id", "row_id").agg(
            F.lit(0).cast("long").alias("super_key_hi"),
            F.lit(0).cast("long").alias("super_key_lo"),
        )

    from datalake_indexes_spark.operators.cocoa import is_numeric_flags

    idx = LakeIndex(
        cells=cells,
        row_keys=row_keys,
        column_headers=headers,
        table_info=table_info,
        col_flags=is_numeric_flags(cells),
    )
    # register the staging frames so LakeIndex.uncache() releases them
    # with the index (unpersist is a no-op on the disk-staged variant)
    idx._staging_frames = [parsed, ids]
    return idx


def build_index_from_folder(
    spark: SparkSession,
    folder: str,
    parquet_groups: dict[str, dict] | None = None,
    typed_groups: dict[str, dict] | None = None,
    with_super_keys: bool = True,
    recursive: bool = False,
    **index_kwargs,
) -> LakeIndex:
    """Index a whole folder of lake files as one job (S6 at scale).

    CSV/TSV/TXT and ARFF files go through the wholetext parse (each with
    its own per-file parser); typed formats need a schema-group map
    ``{glob_pattern: {"format": "parquet"|"json"|"orc", "cols": [...],
    "order_by": [...], "schema": ...}}`` (heterogeneous schemas cannot
    share a scan) — every group is still one glob read, never a per-file
    loop.  ``parquet_groups`` is the parquet-only shorthand.  Table ids
    are dense over the union of all sources, ordered by path.
    """

    def _live_patterns(exts: tuple[str, ...]) -> list[str]:
        return [
            p
            for ext in exts
            for p in [os.path.join(folder, f"*.{ext}")]
            if _glob.glob(
                os.path.join(folder, "**", f"*.{ext}") if recursive else p,
                recursive=recursive,
            )
        ]

    streams: list[DataFrame] = []
    text_patterns = _live_patterns(("csv", "tsv", "txt"))
    if text_patterns:
        streams.append(csv_cells_raw(spark, text_patterns, recursive=recursive))
    arff_patterns = _live_patterns(("arff",))
    if arff_patterns:
        streams.append(arff_cells_raw(spark, arff_patterns, recursive=recursive))
    groups = dict(typed_groups or {})
    for pattern, spec in (parquet_groups or {}).items():
        groups.setdefault(pattern, {**spec, "format": "parquet"})
    for pattern, spec in groups.items():
        streams.append(
            typed_glob_cells(
                spark,
                os.path.join(folder, pattern),
                fmt=spec.get("format", "parquet"),
                cols=spec.get("cols"),
                order_by=spec.get("order_by"),
                schema=spec.get("schema"),
            )
        )
    if not streams:
        raise ValueError(f"build_index_from_folder: no ingestible files in {folder}")
    parsed = streams[0]
    for s in streams[1:]:
        parsed = parsed.unionByName(s)
    return assemble_index(spark, parsed, with_super_keys=with_super_keys, **index_kwargs)
