"""Physical-plan regression guards — the scale properties PLANS.md
documents, asserted in CI: predicate pushdown to the parquet scan,
partition pruning on row probes, and no accidental nested-loop joins in
the MATE pipeline.  A refactor that silently drops one of these would
still pass value checks but regress at 100 TB."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datalake_indexes_spark.index.lake_index import LakeIndex


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def saved_index(spark, sf_dir):
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.sources.catalog import TESTDATA_LAKE_SPEC

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    idx = build_index(
        spark,
        {"nation": nation, "region": region},
        {k: TESTDATA_LAKE_SPEC[k] for k in ("nation", "region")},
    )
    work = tempfile.mkdtemp(prefix="planidx_")
    idx.save(work)
    yield LakeIndex.load(spark, work)
    shutil.rmtree(work, ignore_errors=True)


def test_token_probe_pushes_filter_to_scan(saved_index):
    plan = _plan(saved_index.cells.filter(F.col("tokenized") == "argentina"))
    assert "PushedFilters" in plan
    # the equality predicate must reach the parquet reader, not sit in a
    # post-scan Filter only
    assert "EqualTo(tokenized,argentina)" in plan.replace(" ", "")


def test_row_probe_prunes_partitions(saved_index):
    plan = _plan(saved_index.cells.filter(F.col("table_id") == 1))
    assert "PartitionFilters" in plan
    assert "table_id" in plan.split("PartitionFilters")[1][:200]


def test_column_pruning_narrow_projection(saved_index):
    plan = _plan(saved_index.cells.select("tokenized"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokenized" in read_schema
    assert "row_id" not in read_schema and "col_id" not in read_schema


def test_mate_plan_has_no_nested_loop_join(planted):
    """The MATE pipeline must stay on hash/sort-merge/broadcast-hash
    joins — a BroadcastNestedLoopJoin or CartesianProduct here means a
    predicate stopped being an equi-join and the plan is quadratic."""
    from datalake_indexes_spark.operators.mate import MATE

    res = MATE(planted["index"]).join_search(
        planted["input"],
        ["director_name", "movie_title"],
        k=3,
        input_order_by=["director_name", "movie_title"],
    )
    plan = _plan(res.top_k)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "query_columns", [["director_name"], ["director_name", "movie_title"]],
    ids=["degree1", "degree2"],
)
def test_mate_candidate_cap_is_distributed_topk(planted, query_columns):
    """The k_c candidate cap must plan as TakeOrderedAndProject (each
    partition keeps a local top-k; only those merge) — an empty-partition
    row_number Window would pull every per-table hit count through a
    single task at lake scale.  Degree 1 caps on its own fast path."""
    from datalake_indexes_spark.operators.mate import MATE

    res = MATE(planted["index"]).join_search(
        planted["input"],
        query_columns,
        k=3,
        input_order_by=query_columns,
    )
    plan = _plan(res.top_k)
    assert "TakeOrderedAndProject" in plan
    # the old shape ranked per-table hit counts with a no-partition
    # row_number window; reverting would re-introduce a Window ordered on
    # the hit count — no Window in the plan may reference `count#`
    for frag in plan.split("Window ")[1:]:
        assert "count#" not in frag.splitlines()[0]


def test_cocoa_joinable_columns_is_distributed_topk(planted):
    from datalake_indexes_spark.operators.cocoa import COCOA

    toks = planted["index"].cells.select(
        F.col("tokenized").alias("token")
    ).limit(20)
    plan = _plan(COCOA(planted["index"]).joinable_columns(toks, k_t=5))
    assert "TakeOrderedAndProject" in plan
    # the overlap ranking itself must not be a window (the index build's
    # own lineage may contain partitioned windows)
    for frag in plan.split("Window ")[1:]:
        assert "overlap#" not in frag.splitlines()[0]


def test_cocoa_joinable_columns_approx_tier(planted):
    """The opt-in A1 approx tier (HLL++ sketch instead of the per-token
    distinct expansion): at fixture scale the sketch is exact (sparse /
    linear-counting regime), so the two tiers must return identical
    (table_id, col_id, overlap) rows — and the approx plan must carry
    the sketch aggregate, not a distinct re-shuffle."""
    from datalake_indexes_spark.operators.cocoa import COCOA

    toks = planted["index"].cells.select(
        F.col("tokenized").alias("token")
    ).limit(20)
    cocoa = COCOA(planted["index"])
    exact = cocoa.joinable_columns(toks, k_t=5)
    approx = cocoa.joinable_columns(toks, k_t=5, approx=True)
    norm = lambda df: sorted(  # noqa: E731
        (r["table_id"], r["col_id"], r["overlap"]) for r in df.collect()
    )
    assert norm(exact) == norm(approx)
    plan = _plan(approx)
    assert "approx_count_distinct" in plan
    assert "count(distinct" not in plan.lower()


def test_minhash_band_join_is_equi_join(spark):
    from datalake_indexes_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"some words for document {i} " * 3) for i in range(50)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_pairs(docs, threshold=0.7))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_cells_probe_join_no_lake_exchange(spark, sf_dir, tmp_path):
    """save_bucketed co-locates cells by tokenized: the posting probe join
    reads the lake side pre-hashed — NO Exchange above the bucketed scan;
    only the probe side shuffles.  This is the real-cluster slot-in for
    the broadcast probe (PLANS.md §5)."""
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.sources.catalog import TESTDATA_LAKE_SPEC

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    idx = build_index(
        spark, {"nation": nation}, {"nation": TESTDATA_LAKE_SPEC["nation"]},
        with_super_keys=False,
    )
    idx.save_bucketed("bktest", path=str(tmp_path / "bk"), n_buckets=8)
    try:
        loaded = LakeIndex.load_bucketed(spark, "bktest")
        probe = spark.createDataFrame(
            [("argentina",), ("brazil",), ("france",)], "token string"
        )
        confs = {
            # force the shuffle join shape a too-big-to-broadcast probe gets
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false",
        }
        saved = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            joined = loaded.cells.join(
                probe, loaded.cells["tokenized"] == probe["token"]
            )
            plan = _plan(joined)
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        assert "SortMergeJoin" in plan
        # exactly ONE shuffle: the probe side.  The bucketed lake side must
        # plan scan -> (sort) -> join with no Exchange in between.
        assert plan.count("Exchange") == 1
        assert "token#" in plan.split("Exchange")[1].splitlines()[0]
        # bucket metadata actually applied to the scan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan
    finally:
        for t in ("cells", "row_keys", "column_headers", "table_info", "col_flags"):
            spark.sql(f"DROP TABLE IF EXISTS bktest_{t}")


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set must broadcast — a shuffle of the corpus
    keyed by shingle (sort-merge join) would move the whole lake for a
    benchmark that is MMLU-sized."""
    from datalake_indexes_spark.operators.text_analysis import decontaminate

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(20)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    plan = _plan(decontaminate(docs, bench, n=5))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_distributed(spark):
    """Final top-k must be TakeOrderedAndProject; the rank window runs
    AFTER the limit, over k rows only."""
    from datalake_indexes_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(i, "spark join window etc") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan(bm25_topk(docs, ["spark", "join"], k=10))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # NOTE a BroadcastNestedLoopJoin IS expected here: the (N, avgdl)
    # corpus-stats frame is one row, crossJoin(broadcast(...)) is the
    # scalar-broadcast idiom.  The guard is that the df_ join stays a
    # BroadcastHashJoin (per-term equi-join), which the TakeOrdered check
    # plus this assertion pin:
    assert "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_no_expansion(spark):
    """The as-of union-window trick must produce exactly one Exchange
    keyed by the join key and no join operator at all (no row expansion,
    no range join)."""
    from datalake_indexes_spark.operators.events import asof_join

    build = spark.createDataFrame(
        [(10, 1, 100, 5.0)], "event_id long, user_id long, ts_us long, value double"
    )
    probe = spark.createDataFrame(
        [(1, 1, 150)], "event_id long, user_id long, ts_us long"
    )
    plan = _plan(
        asof_join(probe, build, "user_id", "ts_us", ["event_id", "value"], "event_id")
    )
    assert plan.count("Exchange hashpartitioning") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
        assert join_op not in plan


def test_bm25_indexed_pushes_term_filter_to_scan(spark, tmp_path):
    """The postings probe must reach the parquet reader as an IN-list
    PushedFilter — reading all terms for a 3-term query defeats the
    index."""
    from datalake_indexes_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
    )

    docs = spark.createDataFrame(
        [(i, "spark join window alpha beta gamma") for i in range(30)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "tidx")
    build_text_index(docs, d)
    plan = _plan(bm25_topk_indexed(spark, d, ["spark", "join"], k=5))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "In(term" in pushed.replace(" ", "") or "EqualTo(term" in pushed.replace(" ", "")


def test_discovery_joins_are_equi_joins(saved_index):
    """Inclusion-dependency and union-search pair generation must plan
    as hash equi-joins on the token — a nested-loop here is the
    quadratic the spread cap exists to prevent."""
    from datalake_indexes_spark.operators.discovery import (
        inclusion_dependencies,
        union_search,
    )

    for df in (
        inclusion_dependencies(saved_index, min_distinct=1, min_containment=0.1),
        union_search(saved_index, 0, min_distinct=1, min_jaccard=0.01),
    ):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_tfidf_pair_join_is_equi_join(spark):
    from datalake_indexes_spark.operators.search import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} shared") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan(tfidf_cosine_pairs(docs, threshold=0.1))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_df_cap_kills_hot_term_pair_blowup(spark):
    """A corpus-wide term would generate C(n,2) candidate pairs; the df
    cap removes it BEFORE the pair join, so the planted corpus (only
    'the' shared) produces zero pairs instead of n² work."""
    from datalake_indexes_spark.operators.search import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [(i, f"the unique{i} word{i}") for i in range(60)],
        "doc_id long, text string",
    )
    capped = tfidf_cosine_pairs(docs, threshold=0.0, max_df_frac=0.5)
    assert capped.count() == 0
    uncapped = tfidf_cosine_pairs(docs, threshold=0.0, max_df_frac=2.0)
    assert uncapped.count() == 60 * 59 / 2  # the blowup the cap prevents


def test_pq_adc_scoring_broadcasts_lut(spark):
    """The PQ lookup table must broadcast — the code table is the only
    scan-sized side of the ADC join."""
    from datalake_indexes_spark.operators.similarity import pq_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) for d in range(16)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, m=4, ksub=8))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_growth_and_cohort_have_no_window_over_events(spark):
    """Growth/cohort analytics aggregate the event stream — the only
    window runs over per-PERIOD rows, so no WindowExec input is keyed by
    the raw event scan."""
    from datalake_indexes_spark.operators.events import (
        cohort_retention,
        growth_accounting,
    )

    ev = spark.range(500).selectExpr(
        "id % 37 AS user_id", "id * 1000000 AS ts_us"
    )
    assert "Window" not in _plan(cohort_retention(ev))
    plan = _plan(growth_accounting(ev))
    # one window, and only over the per-period aggregate (row count ≈ days)
    assert plan.count("Window") == 1


def test_fuzzy_join_blocking_is_equi_join(spark):
    """Every join in the fuzzy pipeline — gram probe AND short-string
    block (equi-join on an exploded length key) — must be a hash/
    sort-merge equi-join; a nested loop or cartesian node means the
    blocking degenerated to all-pairs."""
    from datalake_indexes_spark.operators.fuzzy import fuzzy_join

    a = spark.createDataFrame(
        [(i, f"name{i:06d}") for i in range(50)], "a_id long, a_v string"
    )
    b = spark.createDataFrame(
        [(i, f"name{i:06d}") for i in range(50)], "b_id long, b_v string"
    )
    plan = _plan(fuzzy_join(a, b, "a_v", "b_v", "a_id", "b_id", max_distance=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_plan_shape(spark):
    """Boilerplate removal is a broadcast/shuffled-hash LEFT ANTI on the
    chunk string — never a nested loop — and the doc-frequency aggregate
    must carry a map-side partial (HashAggregate before the exchange)."""
    from datalake_indexes_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [(i, "w " * 20) for i in range(30)], "doc_id long, text string"
    )
    plan = _plan(chunk_dedup(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_new_round7_operators_have_no_nested_loops(spark):
    """Blanket equi-join guard over the round's new operators: target
    encoding, concurrency sweep, TWAP, embedding centroids, PMI."""
    from datalake_indexes_spark.operators.events import (
        concurrency_curve,
        time_weighted_avg,
    )
    from datalake_indexes_spark.operators.ml import target_encode
    from datalake_indexes_spark.operators.similarity import embedding_centroids
    from datalake_indexes_spark.operators.text_analysis import word_cooccurrence_pmi

    ev = spark.createDataFrame(
        [(1, "a", 10.0, 0, 0)], "user_id long, cat string, value double, ts_us long, event_id long"
    )
    iv = spark.createDataFrame([(1, 5)], "start_us long, end_us long")
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, 2.0], 0)], "vec_id long, embedding array<double>, label int")

    frames = [
        target_encode(ev, "cat", "value", "user_id"),
        concurrency_curve(iv),
        time_weighted_avg(ev, seq_col="event_id"),
        embedding_centroids(emb, emb.select("vec_id", "label"), "label", id_col="vec_id"),
        word_cooccurrence_pmi(docs),
    ]
    for df in frames:
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_join_is_shuffled_not_broadcast(spark):
    """The full-corpus kNN graph must match probes to inverted-list
    members with a shuffled sort-merge equi-join on the centroid key:
    at graph scale BOTH sides are the corpus, so a broadcast of either
    (which AQE would happily pick at test scale) is the bug.  The only
    sanctioned broadcast is the tiny centroid table feeding assignment."""
    from datalake_indexes_spark.operators.similarity import knn_graph

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(knn_graph(emb, k=3, n_centroids=4, n_probe=2))
    assert "SortMergeJoin" in plan and "centroid" in plan.split("SortMergeJoin")[1][:200]
    assert "CartesianProduct" not in plan


def test_round8_operators_have_no_nested_loops(spark):
    """Blanket equi-join guard over this round's new operators: FD
    profiling, join-cardinality profiling, keyword extraction,
    seasonality, triangles."""
    from types import SimpleNamespace

    from datalake_indexes_spark.operators.discovery import (
        functional_dependencies,
        join_cardinalities,
    )
    from datalake_indexes_spark.operators.events import seasonality_profile
    from datalake_indexes_spark.operators.graph import triangles
    from datalake_indexes_spark.operators.text_analysis import keyword_extract

    cells = spark.createDataFrame(
        [(0, 0, 0, "x"), (0, 0, 1, "y"), (1, 0, 0, "x")],
        "table_id int, row_id long, col_id int, tokenized string",
    )
    idx = SimpleNamespace(cells=cells)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, "a", 0, 1.0)], "event_id long, event_type string, ts_us long, value double"
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")

    frames = [
        functional_dependencies(idx),
        join_cardinalities(idx, min_rows=1),
        seasonality_profile(ev),
        triangles(edges),
    ]
    for df in frames:
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    # keyword_extract carries exactly ONE nested-loop: the sanctioned
    # 1-row corpus-size broadcast (same shape as bm25's stats attach) —
    # anything beyond that is a regression
    kw_plan = _plan(keyword_extract(docs))
    assert "CartesianProduct" not in kw_plan
    assert kw_plan.count("BroadcastNestedLoopJoin") == 1


def test_containment_and_subset_dedup_have_no_nested_loops(spark):
    """Blanket equi-join guard over the containment family: candidate
    generation is a shingle-key equi self-join, verification two
    doc-id-key joins, the subset drop rule a plain aggregate."""
    from datalake_indexes_spark.operators.dedup import (
        ngram_containment_pairs,
        subset_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    for df in (
        ngram_containment_pairs(docs, threshold=0.8),
        ngram_containment_pairs(docs, threshold=0.8, max_shingle_freq=10),
        subset_dedup(docs, threshold=0.8),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_round9_operators_plan_shapes(spark):
    """Blanket plan guard over this round's remaining additions.  The
    ANN-family ops carry exactly ONE BroadcastNestedLoopJoin each — the
    sanctioned tiny-side broadcast (query set / centroid table / 1-row
    total); everything else must be pure equi-join + aggregate."""
    from datalake_indexes_spark.operators.discovery import (
        dp_group_counts,
        json_key_profile,
        k_anonymity_report,
        suppress_small_groups,
    )
    from datalake_indexes_spark.operators.similarity import (
        cluster_purity_report,
        hyperplane_lsh_topk_multiprobe,
        knn_classify,
    )
    from datalake_indexes_spark.operators.text_analysis import content_type_scores

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    tab = spark.createDataFrame([("us", "a", 1.0)], "country string, seg string, v double")
    js = spark.createDataFrame([(1, '{"k": 1}')], "id long, props string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 2)],
        "vec_id long, embedding array<double>, label int",
    )
    zero_nlj = [
        content_type_scores(docs),
        k_anonymity_report(tab, ["country", "seg"], "v", k=2),
        suppress_small_groups(tab, ["country", "seg"], k=2),
        dp_group_counts(tab, ["country"]),
        hyperplane_lsh_topk_multiprobe(
            emb, emb.filter(F.col("vec_id") < 1), k=1, dim=2
        ),
    ]
    for df in zero_nlj:
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    one_nlj = [
        knn_classify(emb, emb.filter(F.col("vec_id") < 1), k=1),
        cluster_purity_report(emb, n_centroids=1),
        json_key_profile(js, "props"),
    ]
    for df in one_nlj:
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert plan.count("BroadcastNestedLoopJoin") == 1


def test_interval_join_plans_as_equi_join(spark):
    """The attribution interval join must extract the key equality as the
    join keys and keep the time range as a residual condition — a
    BroadcastNestedLoopJoin here would be quadratic at scale (the classic
    Spark range-join trap)."""
    from datalake_indexes_spark.operators.events import interval_join_pairs

    p = spark.range(100).selectExpr(
        "id as event_id", "id % 10 as user_id", "id * 7 as ts_us"
    )
    b = spark.range(100).selectExpr(
        "id + 1000 as event_id", "id % 10 as user_id", "id * 5 as ts_us"
    )
    plan = _plan(interval_join_pairs(p, b, lookback_us=50))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dedup_family_has_no_global_windows(spark):
    """Every corpus-sized dedup pipeline keeps its windows partitioned
    (run merges ride (pair, diagonal); LSH/simhash/ngram paths have no
    window at all) — a refactor that introduces an unpartitioned window
    funnels the corpus through one task at 100 TB."""
    from datalake_indexes_spark.operators.dedup import (
        exact_duplicate_groups,
        minhash_lsh_pairs,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        repeated_spans,
        simhash_pairs,
    )
    from datalake_indexes_spark.plans.audit import plan_report

    docs = spark.range(200).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(0, 14),"
        " i -> concat('w', (id*7+i) % 50))) as text",
    )
    for op in (
        exact_duplicate_groups,
        minhash_lsh_pairs,
        simhash_pairs,
        ngram_jaccard_pairs,
        ngram_containment_pairs,
        repeated_spans,
    ):
        rep = plan_report(op(docs))
        assert rep["n_global_windows"] == 0, (op.__name__, rep)
        assert rep["n_nested_loop_joins"] == 0, (op.__name__, rep)


def test_snapshot_diff_hashes_before_the_join(spark):
    """Only (doc_id, md5) may enter the full-outer exchange — the text
    column must be projected away at scan level, or a 100 TB corpus
    shuffles its documents twice to learn what changed."""
    from datalake_indexes_spark.operators.text_analysis import snapshot_diff

    old = spark.createDataFrame(
        [(i, "x" * 100) for i in range(20)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(i, "x" * 100) for i in range(20)], "doc_id long, text string"
    )
    df = snapshot_diff(old, new)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    (join_line,) = [ln for ln in lines if "Join FullOuter" in ln]
    # the join itself sees only doc_id keys, never the text column...
    assert "text#" not in join_line
    # ...because BOTH children are scan-level Projects that already
    # reduced text to its md5
    md5_projects = [ln for ln in lines if "Project" in ln and "md5(" in ln]
    assert len(md5_projects) == 2
    assert "CartesianProduct" not in _plan(df)


def test_range_search_broadcasts_queries(spark):
    """The query side is broadcast (BroadcastNestedLoopJoin over the
    scored scan is the intended scalar-fan-out); the threshold filter
    must sit under the rank window so the window never sees sub-threshold
    rows."""
    from datalake_indexes_spark.operators.similarity import range_search

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(range_search(emb, emb.limit(3), threshold=0.3))
    assert "Broadcast" in plan
    import re

    w = plan.find("Window")
    f = plan.find("Filter", w)
    assert w >= 0 and f >= 0  # a Filter below the Window node exists


def test_cv_folds_hash_tier_is_scan_level(spark):
    """exact=False must plan with NO Exchange — pure projection over the
    scan (the petabyte-stratum escape hatch)."""
    from datalake_indexes_spark.operators.ml import cv_folds

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(50)],
        "doc_id long, lang string",
    )
    plan = _plan(cv_folds(df, k=5, stratum_col="lang", exact=False))
    assert "Exchange" not in plan
    # exact tier: exactly ONE exchange (the stratum window)
    exact_plan = _plan(cv_folds(df, k=5, stratum_col="lang", exact=True))
    assert exact_plan.count("Exchange") == 1


def test_proximity_indexed_pushes_term_filter(spark, tmp_path):
    """The positional probe must reach the positions parquet as an
    IN-list PushedFilter (same layout discipline as the BM25 postings
    probe), and the indexed path must return exactly the inline
    operator's rows."""
    from datalake_indexes_spark.operators.search import (
        build_text_index,
        proximity_topk,
        proximity_topk_indexed,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha spark beta join gamma window delta{i % 3} spark window")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "tidxpos")
    build_text_index(docs, d, positional=True)
    out = proximity_topk_indexed(spark, d, ["spark", "join", "window"], k=8)
    plan = _plan(out)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200].replace(" ", "")
    assert "In(term" in pushed or "EqualTo(term" in pushed
    inline = proximity_topk(docs, ["spark", "join", "window"], k=8)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_margin_rescore_plan_no_cartesian_beyond_broadcast(spark):
    """rescore_exact routes survivors back through cosine_topk's
    broadcast cross — sanctioned (broadcast of the bounded survivor
    set), but a CartesianProduct or non-broadcast nested loop would mean
    the rescore degenerated to corpus x corpus."""
    from datalake_indexes_spark.operators.similarity import margin_mining_blocked

    rows = [(i, [float(i % 5 + 1), float(i % 3), 1.0]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    plan = _plan(
        margin_mining_blocked(
            src, tgt, k=3, threshold=0.5, n_centroids=8, rescore_exact=True
        )
    )
    assert "CartesianProduct" not in plan


def test_ppl_buckets_window_is_source_partitioned(spark):
    """The ntile window must be partitioned by source — a global window
    here would sort the whole corpus on one reducer at 100 TB."""
    from datalake_indexes_spark.operators.text_analysis import ppl_buckets
    from datalake_indexes_spark.plans.audit import plan_report

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i % 3} w{i} x{i % 3}", f"s{i % 2}") for i in range(20)],
        "doc_id long, text string, source string",
    )
    rep = plan_report(ppl_buckets(docs))
    assert rep["n_global_windows"] == 0
    assert rep["n_nested_loop_joins"] == 0


def test_mate_batch_degree1_skips_verification_scan(planted):
    """The degree-1 batch fast path must derive verification evidence
    from the hits aggregate alone — the generic path's second lake pass
    joins a `__cell_tok` projection of cells against every pair, and its
    reappearance in a degree-1 plan means the fast path regressed.
    Degree-2 batches legitimately keep it (sanity-checked below)."""
    from datalake_indexes_spark.operators.mate import MATE

    mate = MATE(planted["index"])
    inp = planted["input"]
    d1 = mate.join_search_batch({"q": (inp, ["director_name"], None)}, k=3)
    assert "__cell_tok" not in _plan(d1)
    d2 = mate.join_search_batch(
        {"q": (inp, ["director_name", "movie_title"], None)}, k=3
    )
    assert "__cell_tok" in _plan(d2)


@pytest.mark.parametrize(
    "query_columns", [["director_name"], ["director_name", "movie_title"]],
    ids=["degree1", "degree2"],
)
def test_mate_batch_windows_are_partitioned_by_query(planted, query_columns):
    """Every window of a batch (candidate cap, best combination, top-k)
    must be partitioned by __query_id — a global one would rank all
    queries' rows in one task."""
    from datalake_indexes_spark.operators.mate import MATE
    from datalake_indexes_spark.plans.audit import plan_report

    inp = planted["input"]
    batch = MATE(planted["index"]).join_search_batch(
        {"a": (inp, query_columns, None), "b": (inp, query_columns[::-1], None)},
        k=3,
    )
    rep = plan_report(batch)
    assert rep["n_global_windows"] == 0, rep
