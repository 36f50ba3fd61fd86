"""Shared session/lake-index/fixture helpers for the query registry.

Split from the former plans/queries.py (round 9) — pure rearrangement,
every definition verbatim; registry order pinned in ``_registry``.
"""

from __future__ import annotations
import os
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from datalake_indexes_spark.index.builder import build_index, with_global_row_number
from datalake_indexes_spark.index.lake_index import LakeIndex
from datalake_indexes_spark.operators.cocoa import COCOA, is_numeric_flags
from datalake_indexes_spark.operators.duplicates import DuplicateDetection
from datalake_indexes_spark.operators.mate import MATE
from datalake_indexes_spark.plans import oracle
from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.sources.catalog import ALL_TABLE_NAMES, TESTDATA_LAKE_SPEC


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the queries depend on, set defensively: the driver
    calls queries() with ITS OWN session, and a vanilla session cannot read
    the testdata's TIMESTAMP(NANOS) events.parquet at all
    ([PARQUET_TYPE_ILLEGAL] without nanosAsLong)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Raw lake tables, with scan parallelism spread to the cluster
    (:func:`_spread_scan`): the testdata files are single row-group
    parquet, so without the spread each table's ENTIRE per-cell index
    work (cast, tokenize, XASH, stack) runs as one scan task — measured:
    the sf0.1 build's materialization job spent its 8.5s critical path
    in single-task unions.  Every per-row value (row_id from
    row_id_expr or the value-bucketed global row number, tokenization,
    hashes, the within-row super-key fold) is placement-independent, so
    results are unchanged."""
    _ensure_session_confs(spark)
    names = names or ALL_TABLE_NAMES
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        df = spark.read.parquet(path)
        spec = TESTDATA_LAKE_SPEC.get(n)
        # Spread ONLY tables whose row_id is a verified dense-key
        # PROJECTION (spec.row_id_expr): for those, every downstream value
        # is a pure per-row function and placement cannot matter.  Tables
        # row-numbered by with_global_row_number (lineitem) must keep the
        # single-partition scan: their order key is NOT unique in this
        # testdata ((l_orderkey, l_linenumber) covers 45832 of 60000 rows
        # at sf0.01), so row_number ties break by arrival order == file
        # order — the contract the DuckDB oracle twin pins.  Spreading the
        # scan reorders tie rows and was caught as an index_cells value
        # mismatch at sf0.01.  Parallelism is not lost: the row-numbering
        # window itself redistributes across its value buckets before any
        # per-cell work runs.
        if spec is not None and spec.row_id_expr is not None:
            df = _spread_scan(df, key=path, target_bytes=512 * 1024)
        out[n] = df
    return out


def _numbered_probe(
    spark: SparkSession, sf_dir: str, name: str, out_col: str
) -> DataFrame:
    """Probe table with its MATE/COCOA row id attached as a projection.

    The catalog vouches the table's order key is dense 0..n-1 at every SF
    (TESTDATA_LAKE_SPEC ``row_id_expr`` — the same contract the index
    build's ``unpivot_to_cells`` uses), so ``with_global_row_number`` over
    that key IS the key itself: numbering becomes a cast instead of two
    eager driver jobs (min/max scan) plus a bucketed window per query
    construction.  Only valid for catalog tables with ``row_id_expr``
    (lineitem keeps the window — its order key is composite/non-dense)."""
    spec = TESTDATA_LAKE_SPEC[name]
    assert spec.row_id_expr is not None, f"{name} has no dense key"
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return df.withColumn(out_col, F.col(spec.row_id_expr).cast("long"))


_INDEX_CACHE: dict[tuple[str, bool], LakeIndex] = {}


def testdata_index(spark: SparkSession, sf_dir: str, with_super_keys: bool = True) -> LakeIndex:
    """Session-cached lake index.  ONE cached artifact backs both
    variants: the denormalized keyed cell view, built SHUFFLE-FREE in the
    scan stage (``build_keyed_cells``: per-row super keys are a native
    OR-fold over the wide format — the old (table_id, row_id) window
    sort+``bit_or`` is gone) and then explicitly repartitioned by
    (table_id, row_id) so the cache keeps the clustered layout MATE's
    verify joins and the row-grouping operators rely on being
    exchange-free.  The members are :func:`index_members` of it — the
    same projection ``build_index`` uses — and the base variant swaps in
    zero keys over the same ``col_id == 0`` slice."""
    base_key = (os.path.abspath(sf_dir), False)
    key = (os.path.abspath(sf_dir), True)
    want = key if with_super_keys else base_key

    if key not in _INDEX_CACHE and base_key not in _INDEX_CACHE:
        from datalake_indexes_spark.index.builder import build_keyed_cells, index_members

        tables = load_tables(spark, sf_dir)
        # localCheckpoint BEFORE the repartition+cache truncates the cached
        # plan's lineage to a single Scan ExistingRDD leaf.  Without it every
        # query that touches the index re-ANALYZES the full 10-table
        # union+UDF build plan (measured: cocoa_enrich spent 5.4s of its
        # 8.7s wall in a zero-jobs-running gap, jstack pinned in
        # Analyzer$ResolveReferences); with it the same query plans in
        # ~0.1s and runs 3.3-4.0s.  The repartition+cache ON TOP keeps the
        # columnar cache and its recognized (table_id, row_id) hash
        # partitioning, so aggregation/join plans are unchanged — only the
        # logical leaf under them shrank.  At cluster scale the equivalent
        # shape is writing the built index to a bucketed table and reading
        # it back (the S7 sink); localCheckpoint is the in-session twin.
        # eager=False: the plan is truncated at localCheckpoint-call time
        # either way (the returned frame wraps a LogicalRDD), but the lazy
        # form materializes the checkpoint blocks during the cache's own
        # first pass instead of running a separate compute job first —
        # measured A/B at sf0.1: 7.75/6.61s eager vs 6.94/6.44s lazy, same
        # row count, same downstream plan (exchange-free cache aggregates).
        keyed = (
            build_keyed_cells(spark, tables, TESTDATA_LAKE_SPEC)
            .localCheckpoint(eager=False)
            .repartition("table_id", "row_id")
            .cache()
        )
        members = index_members(spark, keyed, tables, TESTDATA_LAKE_SPEC)
        for name in ("column_headers", "table_info", "col_flags"):
            members[name] = members[name].cache()
        # the base variant: zero keys over the same col-0 slice, and no
        # cells_keyed — its keyed_cells() must agree with its zero
        # row_keys; the real-key view would hand consumers keys its own
        # row_keys denies
        zero = F.lit(0).cast("long")
        base_idx = LakeIndex(**{
            **members,
            "row_keys": members["row_keys"].withColumns(
                {"super_key_hi": zero, "super_key_lo": zero}
            ),
        })
        # the shared cache is registered as a staging frame so uncache
        # on either variant frees it
        base_idx._staging_frames = [keyed]
        _INDEX_CACHE[base_key] = base_idx
        _INDEX_CACHE[key] = LakeIndex(**members, cells_keyed=keyed)
    return _INDEX_CACHE[want]


_PLANTED_INDEX_CACHE: dict[str, LakeIndex] = {}


def _planted_dup_index(spark: SparkSession, sf_dir: str) -> LakeIndex:
    """Index over the PLANTED duplicate lake (catalog.PLANTED_DUP_SPEC):
    nation/region registered twice under distinct table ids + a doubled
    nation whose every row appears twice — the J5/J6 hard-signal fixture
    (the TPC-H-like testdata itself has no duplicate rows, so the plain
    dup keys verify 0 == 0).  Built WITH super keys so the planted pair
    query exercises the real XASH prefilter + verification path."""
    from datalake_indexes_spark.sources.catalog import PLANTED_DUP_SPEC

    k = os.path.abspath(sf_dir)
    if k not in _PLANTED_INDEX_CACHE:
        tbls = load_tables(spark, sf_dir, ["region", "nation", "supplier"])
        doubled = tbls["nation"].withColumn(
            "copy", F.explode(F.array(F.lit(0), F.lit(1)))
        )
        tables = {
            "region": tbls["region"],
            "nation": tbls["nation"],
            "supplier": tbls["supplier"],
            "nation_dup": tbls["nation"],
            "region_dup": tbls["region"],
            "nation_doubled": doubled,
        }
        _PLANTED_INDEX_CACHE[k] = build_index(
            spark, tables, PLANTED_DUP_SPEC, with_super_keys=True
        ).cache()
    return _PLANTED_INDEX_CACHE[k]


_BLOOM_KEYS_CACHE: dict[str, "DataFrame"] = {}


def _spread_scan(
    df: DataFrame, key: str | None = None, target_bytes: int | None = None
) -> DataFrame:
    """Scale-adaptive scan parallelism: the testdata corpora are single
    row-group parquet files, so Spark plans ONE scan task and every
    per-row-heavy operator downstream (shingling, 16-way MinHash, regex
    quality metrics) runs on one core — measured: dedup_minhash_lsh spent
    3.4s+3×1.7s in four 1-task stages at sf0.1 on local[32].  When the
    scan has fewer partitions than the cluster, one round-robin exchange
    of the (tiny) input fans the work out; at real scale the scan already
    carries >= cluster parallelism partitions and this is a no-op.  Rows
    are unchanged — only their placement moves (sortBeforeRepartition
    keeps the assignment deterministic under retries).  The scan's
    partition count is memoized per file (``key``) so the ~100 registry
    queries over the same corpus pay the planning probe once.

    ``target_bytes`` switches the fan-out from "all cores" to
    work-proportional: one partition per ``target_bytes`` of on-disk
    file size (still capped at cluster parallelism).  Full fan-out is
    right when per-row CPU dwarfs the per-task cost (regex/shingling
    over text, vector math); the proportional form is for consumers
    whose stages carry a fixed per-task price — the index build runs an
    ArrowEvalPython projection over ten unioned tables, where 32
    partitions per tiny table meant 318 tasks each paying the Python
    round-trip and re-hashing its slice's token uniques (measured 9.5s;
    ~35 size-proportional tasks: 4.2s, flat 1 task/table: 5.9s)."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    want = n
    if target_bytes is not None and key is not None and os.path.exists(key):
        want = max(1, min(n, round(os.path.getsize(key) / target_bytes)))
    parts = _SCAN_PARTS.get(key) if key is not None else None
    if parts is None:
        parts = df.rdd.getNumPartitions()
        if key is not None:
            _SCAN_PARTS[key] = parts
    if parts < want:
        return df.repartition(want)
    return df


_SCAN_PARTS: dict[str, int] = {}


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """Corpus scan.  ``spread=False`` opts a consumer out of the
    :func:`_spread_scan` fan-out: for cheap single-pass native pipelines
    (one codegen projection/aggregate over the scan — dedup_exact's
    md5+groupBy, text_quality's word gauges) the round-robin exchange
    ships the whole text column to buy parallelism the stage doesn't
    need, and the round-9 driver measured both DOUBLING at sf0.1 (and
    running faster at 8 cores than 32 — the signature of an exchange
    that costs more than it buys).  At real scale the spread is a no-op
    either way (the scan already carries cluster parallelism), so the
    flag only controls the small-file shape.  Rows are identical with
    and without (placement-only)."""
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, "documents.parquet")
    df = spark.read.parquet(path)
    return _spread_scan(df, key=path) if spread else df


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "embeddings.parquet")
    return _spread_scan(spark.read.parquet(path), key=path)


_IVF_INDEX_DIRS: dict[str, str] = {}


CORPUS_TOKEN_BUDGET = 20_000


def _with_planted_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL column for the web-curation keys — the synthetic
    corpus has no provenance URLs, so the fixture plants four URL shapes
    (doc_id % 4) covering the canonicalization surface: case folding +
    www-strip + default-port drop + tracking-param drop + param sort +
    fragment drop (0), bare host/path (1), second-level-registry domain
    with a non-default port (2), IPv4 host with unsorted params (3).
    Mirrored byte-for-byte by ``oracle._URL_PLANT_CTE``."""
    did = F.col("doc_id")
    s = did.cast("string")
    url = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW."), F.col("source"), F.lit(".Example.com:80/docs/"),
                s, F.lit("?utm_source=rss&b=2&a=1#top"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit("https://cdn."), F.col("source"), F.lit(".example.net/a/b/"), s),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.co.uk:8443/x?id="),
                s, F.lit("&fbclid=abc"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://10.0."), (did % 200).cast("string"), F.lit(".9/raw/"),
                s, F.lit("?z=1&y=2"),
            )
        )
    )
    return docs.withColumn("url", url)


WEB_BLOCKLIST = ["example.net", "example.co.uk"]


_BPE_MERGES: dict[str, list] = {}


def _with_planted_links(docs: DataFrame) -> DataFrame:
    """Anchor-tag fixture for the link-extraction keys: every even doc
    gets two planted ``<a href>`` anchors (one https+www+query, one
    http+port), odd docs none — mirrored by ``oracle._LINK_PLANT_CTE``."""
    did = F.col("doc_id")
    suffix = F.concat(
        F.lit(' <a href="https://www.ref'), (did % 50).cast("string"),
        F.lit('.example.com/p?id='), did.cast("string"),
        F.lit('">x</a> and <a href="http://peer'), (did % 7).cast("string"),
        F.lit('.example.org:8080/q">y</a>'),
    )
    return docs.withColumn(
        "text",
        F.when(did % 2 == 0, F.concat(F.col("text"), suffix)).otherwise(
            F.col("text")
        ),
    )


CORPUS_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.8}


def search_columns_by_header(index: LakeIndex, query: str, k: int = 10) -> DataFrame:
    """Schema search — rank lake columns by header-token overlap with a
    free-text query (the discovery entry point the stored
    ``header_tokenized`` member exists for).  Native array intersection +
    distributed top-k; the query tokens are a literal array, so the scan
    side never shuffles."""
    from datalake_indexes_spark.functions.text import tokenize_py

    q_words = [w for w in tokenize_py(query).split(" ") if w]
    q_arr = F.array(*[F.lit(w) for w in q_words])
    h = index.column_headers.withColumn(
        "__overlap",
        F.size(F.array_intersect(F.split("header_tokenized", " "), q_arr)).cast("long"),
    )
    return (
        h.filter(F.col("__overlap") > 0)
        .select("table_id", "col_id", "header", F.col("__overlap").alias("overlap"))
        .orderBy(F.desc("overlap"), F.asc("table_id"), F.asc("col_id"))
        .limit(k)
    )


HEADER_SEARCH_QUERY = "name event type id"


DECONTAM_MODULUS = 17


BM25_QUERY_TERMS = ["spark", "join", "window"]


_TEXT_INDEX_DIRS: dict[str, str] = {}


def _events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ts normalized to BIGINT microseconds (the testdata's
    TIMESTAMP(NANOS) reads as nanos-long under the legacy conf)."""
    _ensure_session_confs(spark)
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(ev.dtypes)["ts"] == "bigint":
        ts_us = F.expr("(ts - pmod(ts, 1000)) div 1000")
    else:
        # works for TIMESTAMP and TIMESTAMP_NTZ alike, timezone-free
        ts_us = F.expr(
            "timestampdiff(MICROSECOND, timestamp_ntz '1970-01-01 00:00:00', ts)"
        )
    return ev.withColumn("ts_us", ts_us.cast("long"))


GOV_PSEUDO_SECRET = "release-2026-08"


RANGE_JOIN_WINDOW_US = 3_600_000_000  # 1 hour


FUNNEL_STEPS = ["view", "click", "purchase"]


V3_QUALITY_MIN = 0.52


V3_LOGPROB_MIN = -3.408


TREND_X_ORIGIN_US = 1_704_067_200_000_000


BURST_TOLERANCE_US = 21_600_000_000  # 6 hours


REPEAT_SPAN = (
    "shared boilerplate sentence planted for exact span detection "
    "across documents twelve words"
)


XSPAN_Q1 = (
    "which benchmark question leaked verbatim into the training corpus "
    "tell me now"
)


XSPAN_Q2 = (
    "evaluation answer text that must never appear inside any training "
    "document ever"
)


def _xspan_fixture(spark: SparkSession, sf_dir: str):
    """Corpus with benchmark sentences planted (Q1 as a suffix on every
    7th doc, Q2 as a prefix on doc_id % 11 == 3 — some docs carry both)
    plus the 2-row reference set containing those sentences."""
    docs = _docs(spark, sf_dir)
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + XSPAN_Q1)),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.lit(XSPAN_Q2 + " "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    ref = spark.createDataFrame(
        [(0, "xqa xqb xqc " + XSPAN_Q1), (1, XSPAN_Q2)], ["ref_id", "text"]
    )
    return planted, ref


SELF_SENT = (
    "this exact sentence repeats inside the very same document twice "
    "verbatim here"
)


def _self_span_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 13th doc gets the 12-word sentence appended TWICE (with a
    separator word) — intra-doc repetition the self-span pass must cut
    back to one copy; all other docs are untouched."""
    docs = _docs(spark, sf_dir)
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 5,
            F.concat(
                F.col("text"),
                F.lit(" " + SELF_SENT + " zzfill " + SELF_SENT),
            ),
        ).otherwise(F.col("text")),
    )


KS_DRIFT_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _incremental_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Planted history/increment split for the incremental-dedup keys
    (mirrored by oracle._INCR_SPLIT_CTES): history = doc_id%5<>0;
    increment = the %5==0 docs, plus re-crawled copies of history
    (%7==1, id+1e6 — already-ingested content arriving again) and
    within-increment copies (%10==0, id+2e6)."""
    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    inc = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionAll(
            hist.filter(F.col("doc_id") % 7 == 1).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    return hist, inc


_TEXT_INDEX_POS_DIRS: dict[str, str] = {}


def _docs_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted multi-line fixture for the line-dedup keys (mirrored by
    oracle._LINE_PLANT_CTE): the base corpus has no newlines, so wrap
    every document in frequency-varied boilerplate lines — a shared
    header on every 3rd doc, a cookie banner on every 2nd, a
    whitespace-only line on every 7th, a footer on every 5th.
    concat_ws skips the NULL `when` arms in both engines."""
    return _docs(spark, sf_dir).withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 3 == 0, F.lit(oracle.LINE_HEADER)),
            F.when(F.col("doc_id") % 2 == 0, F.lit(oracle.LINE_COOKIE)),
            F.when(F.col("doc_id") % 7 == 0, F.lit("   ")),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(oracle.LINE_FOOTER)),
        ),
    )


