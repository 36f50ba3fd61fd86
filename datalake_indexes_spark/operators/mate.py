"""MATE — multi-attribute joinability search (SURVEY.md §2.3 J1-J3, §3.B).

Reference: ``maco/mate.py:125-540`` (``MATE.join_search``).  The reference
interleaves one Postgres posting-list probe with driver-side Python loops
(candidate bucketing, super-key filtering, row verification, heap top-k).
Here the whole search is one declarative DataFrame pipeline:

1. input prep — dedup on query columns, tokenize, null-drop, per-row super
   key via XASH OR  (mate.py:182-222),
2. posting fetch — broadcast join of distinct first-query-column tokens
   against the cell index  (mate.py:251-256),
3. candidate cap — top ``k_c`` tables by hit count  (mate.py:313-314),
4. super-key containment prefilter  (mate.py:390-394),
5. verification of the remaining query columns against the candidate rows,
   extracting the matched-column combination  (mate.py:94-123, 443-455),
6. score per (table, combination), best per table, global top-k
   (mate.py:457-504; reported score is count-1, mate.py:522-525).

Steps 2-6 are one pipeline (``MATE._match`` + ``MATE._best_per_table``):
``join_search`` runs it for one input, ``join_search_batch`` for a union of
inputs with ``__query_id`` prepended to every grouping and join key.

Deviations from the reference (intended-semantics fixes, SURVEY.md §3.B.4):
- the ``tableid``/``table_id`` loop-variable bug (mate.py:318-320) is fixed —
  every candidate table is scored on its own posting list;
- per-hit heap early-termination (mate.py:352-359) does not distribute; the
  retained pruning is the ``k_c`` candidate cap, so we may scan more rows
  than the reference but never return fewer;
- ties (equal best-combination counts / equal scores at the k boundary) are
  resolved deterministically: lexicographically smallest combination,
  lowest table_id — the reference inherits dict/heap iteration order.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datalake_indexes_spark.functions.text import null_canonicalize_col, tokenize_col
from datalake_indexes_spark.functions.xash import row_hash_pandas_udf, superkey_contains, xash
from datalake_indexes_spark.index.builder import token_stats_for, with_global_row_number
from datalake_indexes_spark.index.lake_index import LakeIndex


def salted_probe_join(
    probe_cells: DataFrame,
    inp: DataFrame,
    hot_tokens: list[str],
    n_salt: int = 16,
) -> DataFrame:
    """Posting fetch for inputs too large to broadcast, HOT-TOKEN SAFE.

    A plain ``cells ⋈ input ON tokenized`` concentrates every occurrence
    of a hot token (think ``"0"``) into one shuffle partition.  AQE's
    skew-join does NOT rescue this shape: measured on pyspark 4.1.2, the
    split fires for join→row-consumer plans (``SortMergeJoin(skew=true)``)
    but is skipped whenever an aggregate shares the join's stage — exactly
    MATE's ``hits.groupBy(table_id)`` candidate count (PLANS.md §3).

    So the skew is dismantled structurally — but ONLY for the tokens that
    are actually hot: cells rows carrying a ``hot_tokens`` member get a
    uniform salt from their (table_id, row_id) identity and the matching
    input rows are replicated once per salt value; everything else joins
    with salt 0 on both sides, i.e. exactly the plain join.  (Salting
    unconditionally was measured to double mate_join_search_multi at
    sf0.1 — replicating the whole 600k-row input 16× costs more than the
    skew it guards against when no key is actually hot.)  Each (cell,
    input) match survives exactly once (the one replica whose salt equals
    the cell's), so results are identical to the unsalted join.
    """
    if not hot_tokens:
        return probe_cells.join(inp, probe_cells["tokenized"] == inp["__q0"], "inner")
    hot_arr = F.array(*[F.lit(t) for t in hot_tokens])
    salted_cells = probe_cells.withColumn(
        "__salt",
        F.when(
            F.array_contains(hot_arr, F.col("tokenized")),
            F.pmod(F.xxhash64("table_id", "row_id"), F.lit(n_salt)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    replicas = F.when(
        F.array_contains(hot_arr, F.col("__q0")),
        F.sequence(F.lit(0), F.lit(n_salt - 1)),
    ).otherwise(F.array(F.lit(0)))
    salted_inp = inp.withColumn("__salt_r", F.explode(replicas))
    joined = salted_cells.join(
        salted_inp,
        (salted_cells["tokenized"] == salted_inp["__q0"])
        & (salted_cells["__salt"] == salted_inp["__salt_r"]),
        "inner",
    )
    return joined.drop("__salt", "__salt_r")


@dataclass
class MateResult:
    """Top-k result + join maps + the A12 stats surface (mate.py:527-535)."""

    top_k: DataFrame          # score long, table_id int, column_combination string
    join_pairs: DataFrame     # table_id, column_combination, ext_row_id, input_row_id
    stats: dict = field(default_factory=dict)
    # the frames join_search persisted for top_k and join_pairs to share,
    # in persist order; released by release()
    persisted: tuple = field(default=(), repr=False)

    def release(self) -> None:
        """Unpersist what :meth:`MATE.join_search` persisted.  Call it once
        nothing will evaluate ``top_k`` or ``join_pairs`` again, or once
        their results are materialized elsewhere (a checkpoint, collected
        rows): later evaluations recompute from the lineage.  Dependents
        go first, so no released cache is re-planned over another."""
        for df in reversed(self.persisted):
            df.unpersist()


class MATE:
    def __init__(
        self,
        index: LakeIndex,
        hash_size: int = 128,
        rotation: bool = True,
        number_of_ones: int = 5,
        hash_function=None,
    ):
        """``hash_function``: optional ``str -> int128`` callable replacing
        XASH (the reference's pluggable knob, data_handler.py:89,109) — must
        match the family the index's row_keys were built with.  Containment-
        monotone families (XASH, bloom128) keep the prefilter sound; for
        others pass ``use_hash_optimization=False`` to join_search."""
        self.index = index
        self._row_hash_udf = row_hash_pandas_udf(hash_function or partial(
            xash, hash_size=hash_size, rotation=rotation, number_of_ones=number_of_ones
        ))

    # ------------------------------------------------------------------
    def _lake_hot_tokens(self, threshold: int, cap: int = 1024) -> list[str]:
        """Tokens whose lake-wide posting count reaches ``threshold`` —
        the keys a token-equi shuffle join would concentrate into one task.

        Served from the index's persisted ``token_stats`` artifact when
        present (the 100 TB shape: hotness is a property of the INDEX,
        computed once at build time — ``build_index(with_token_stats=
        True)``); otherwise one frequency aggregation over cells (map-side
        combined), capped at the ``cap`` hottest so the driver-side list
        stays bounded, memoized on the LakeIndex instance."""
        if self.index.token_stats is not None:
            rows = (
                self.index.token_stats.filter(F.col("cnt") >= threshold)
                .orderBy(F.desc("cnt"), F.asc("tokenized"))
                .limit(cap)
                .collect()
            )
            return [r["tokenized"] for r in rows]
        cached = self.index._hot_tokens
        if cached is None or cached[0] != (threshold, cap):
            rows = token_stats_for(self.index.cells, threshold, cap).collect()
            cached = ((threshold, cap), [r["tokenized"] for r in rows])
            self.index._hot_tokens = cached
        return cached[1]

    # ------------------------------------------------------------------
    def prepare_input(
        self,
        input_df: DataFrame,
        query_columns: list[str],
        input_order_by: list[str] | None = None,
        with_super_key: bool = True,
    ) -> DataFrame:
        """Input prep (mate.py:182-222).

        Returns one row per surviving input row with columns
        ``mate_row_id`` and ``__q{i}`` (tokenized query values), plus
        ``__q_hi``/``__q_lo`` (query super key) when requested.
        """
        if "mate_row_id" in input_df.columns:
            # project before the dedup exchange (guide §2.3): everything
            # downstream reads only mate_row_id + the query columns
            df = input_df.select(*dict.fromkeys(["mate_row_id", *query_columns]))
        else:
            order = input_order_by or query_columns
            # project before the numbering exchange: the window only sorts
            # by `order` and the output only consumes the query columns —
            # shuffling a fact-table probe's full width (16 lineitem
            # columns) through the numbering window quadrupled its bytes.
            # A narrow projection of the same scan preserves row order, so
            # the arrival-order tie-break in with_global_row_number is
            # untouched (verified: exceptAll both directions empty vs the
            # full-width shape at sf0.1).
            slim = input_df.select(*dict.fromkeys([*order, *query_columns]))
            df = with_global_row_number(slim, list(order), out_col="mate_row_id")

        # drop_duplicates on raw query values keeping the first row
        # (mate.py:183; pandas keeps lowest index — we keep lowest id).
        # min(mate_row_id) per raw-value group IS that row: every row of a
        # group carries identical query-column values, so the aggregate
        # returns the row_number()==1 winner's exact output while replacing
        # the sort-window with a hash aggregate that partially aggregates
        # map-side before the exchange (guide §2.3 "aggregate before you
        # shuffle"; measured same-session at sf0.1: 8.9s vs 14.8s for the
        # 600k-row lineitem probe, exceptAll empty both directions).
        # CONTRACT: mate_row_id must be non-null.  Both producers satisfy
        # it (with_global_row_number assigns every row; _numbered_probe
        # casts a catalog-vouched dense key), and a NULL id would also
        # break the join maps downstream.  Note min() IGNORES nulls while
        # the old nulls-first window KEPT the null-id row — if an external
        # caller ever supplies a nullable mate_row_id, pre-filter or
        # surrogate it first.
        df = df.groupBy(*[F.col(q) for q in query_columns]).agg(
            F.min("mate_row_id").alias("mate_row_id")
        )

        for i, q in enumerate(query_columns):
            df = df.withColumn(f"__q{i}", null_canonicalize_col(tokenize_col(F.col(q))))
        qcols = [f"__q{i}" for i in range(len(query_columns))]
        for qc in qcols:
            df = df.filter(F.col(qc).isNotNull())

        out = df.select("mate_row_id", *qcols)
        if with_super_key:
            # one Arrow crossing for the whole row: tokens joined with \x01
            # (tokenized text is alnum+space so it cannot collide; NUL would
            # be collapsed by a pandas/Arrow unique() quirk — see xash.py)
            joined = F.concat_ws("\x01", *[F.col(qc) for qc in qcols])
            h = self._row_hash_udf(joined)
            out = out.withColumn("__h", h).select(
                "mate_row_id", *qcols,
                F.col("__h.hi").alias("__q_hi"), F.col("__h.lo").alias("__q_lo"),
            )
        return out

    # ------------------------------------------------------------------
    def join_search(
        self,
        input_df: DataFrame,
        query_columns: list[str],
        k: int = 10,
        k_c: int = 500,
        min_join_ratio: int = 0,
        use_hash_optimization: bool = True,
        input_order_by: list[str] | None = None,
        stats: dict | None = None,
        broadcast_threshold: int = 1_000_000,
        n_salt: int = 16,
        hot_token_threshold: int = 100_000,
    ) -> MateResult:
        degree = len(query_columns)

        inp = self.prepare_input(
            input_df,
            query_columns,
            input_order_by,
            # degree 1 never consumes the query super key (see step 2) —
            # skip its Arrow-batched hash over the input entirely
            with_super_key=use_hash_optimization and degree > 1,
        )
        # Typical inputs are small vs the lake -> broadcast turns the
        # posting fetch into a map-side join against the index scan.  Large
        # inputs (e.g. probing with a fact table) would blow the broadcast,
        # so decide on the actual row count; the cache keeps the prep work.
        # The 1M-row default (~60-100 MB built relation, well under the
        # 8 GB/512M-row broadcast cap) is deliberate: below it the probe is
        # a broadcast hash join that keeps the lake cache's (table_id,
        # row_id) clustering flowing into the verify join (zero lake-side
        # exchanges); above it the salted sort-merge path shuffles the
        # whole cell index by token.  Measured at sf0.1: the 600k-row
        # lineitem probe runs 6.3-7.2s broadcast vs 8.6s+ salted.
        inp = inp.persist()
        small_input = inp.count() <= broadcast_threshold
        hot_tokens = [] if small_input else self._lake_hot_tokens(hot_token_threshold)
        matches, pairs, hits = self._match(
            F.broadcast(inp) if small_input else inp, [], degree,
            use_hash_optimization and degree > 1, small_input,
            k_c, min_join_ratio, hot_tokens, n_salt,
        )
        persisted = [inp, hits]
        top_k = self._best_per_table(matches, [], k)

        # 7. join maps (mate.py:473-486): ext_row -> input_row for the best
        # combination of each top table; last-write-wins in the reference —
        # we keep the largest input row id (deterministic).
        join_pairs = (
            matches.join(
                top_k.select("table_id", "column_combination"),
                ["table_id", "column_combination"],
                "inner",
            )
            .groupBy("table_id", "column_combination", "ext_row_id")
            .agg(F.max("mate_row_id").alias("input_row_id"))
        )

        if stats is not None:
            # the stats counts force the verification join; persist it (and
            # the prefilter output) so the top_k/join_pairs actions that
            # follow reuse the materialization instead of re-executing the
            # join up to 3x — cache matching is by logical plan, so the
            # already-built downstream plans pick the cache up as
            # InMemoryTableScan.  Held until release() (MEMORY_AND_DISK,
            # evicted under pressure).
            if degree > 1:
                pairs = pairs.persist()
                persisted.append(pairs)
            matches = matches.persist()
            persisted.append(matches)
            n_match = matches.count()
            # approved = candidate pairs surviving the hash prefilter
            # (mate.py:527-535; the verification semi-filter above drops
            # never-matching pairs from `verified`, so count `pairs`).  At
            # degree 1 every pair verifies (see _match), so the two
            # frames hold the same rows and one count serves both
            n_approved = pairs.count() if degree > 1 else n_match
            stats["total_approved"] = n_approved
            stats["matching_rows"] = n_match
            stats["total_fp"] = n_approved - n_match
            stats["precision"] = n_match / max(n_approved, 1)
        return MateResult(
            top_k=top_k, join_pairs=join_pairs, stats=stats if stats is not None else {},
            persisted=tuple(persisted),
        )

    # ------------------------------------------------------------------
    @staticmethod
    def _top_n(df: DataFrame, keys: list[str], order: list, n: int) -> DataFrame:
        """The first ``n`` rows of ``df`` by ``order``, per ``keys`` group.

        Without keys, orderBy().limit() plans as TakeOrderedAndProject: each
        partition keeps its local top-n and only those reach the driver-side
        merge — a no-partition row_number window would instead pull every
        row through a single task (~1M per-table counts at the reference's
        lake size).  With keys, the window is PARTITIONED by them."""
        if not keys:
            return df.orderBy(*order).limit(n)
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= n)
            .drop("__rk")
        )

    def _match(
        self,
        inp: DataFrame,
        keys: list[str],
        degree: int,
        prefilter: bool,
        small_input: bool,
        k_c: int,
        min_join_ratio: int,
        hot_tokens: Sequence[str] = (),
        n_salt: int = 16,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Steps 2-5 for the prepared (and, when ``small_input``, broadcast)
        input ``inp``: ``(matches, pairs, hits)`` — the verified pairs with
        their ``column_combination``, the candidate pairs that reached
        verification, and the probe hits this persisted for the candidate
        cap and the pair set to share (the caller releases them).
        ``keys`` are input columns that split it into independent queries
        (``[]`` for one query); every grouping and join key below is
        prefixed with them, so each query keeps its own candidate cap and
        verification."""
        cells = self.index.cells

        # 2. posting fetch on first query column (mate.py:251-256).  With
        # hash optimization the probe runs against the super-key-denormalized
        # cell view (the reference's layout) so the hit set — often much
        # larger than the lake — never joins row_keys afterwards.
        # Degree 1 is special: the containment prefilter is provably a
        # no-op (the hit row contains q0 by token equality, so its super
        # key contains xash(q0) — the entire degree-1 query key), so the
        # probe stays on the NARROW cell cache and step 4 is skipped —
        # measured: the filter pass alone cost ~2.5 s on a 2M-row hit set
        # at sf0.1 while pruning zero rows.
        probe_cells = self.index.keyed_cells() if prefilter else cells
        # a broadcast input has no hot tokens to salt apart: the probe is
        # the plain join.  A non-broadcastable input's shuffle join would
        # funnel any hot token through one task (AQE's skew split is inert
        # under the groupBy below — see salted_probe_join); salt apart the
        # tokens the lake-side frequency scan marks as hot
        hits = salted_probe_join(probe_cells, inp, hot_tokens, n_salt=n_salt)

        if degree == 1:
            # 5'. degree-1 fast path: the hits ARE the verification
            # evidence.  The degree-1 quirk re-verifies the single query
            # column, so a pair's matched-column set __m0 is exactly
            # {col_id : the row's cell token == this pair's __q0} — and
            # every hit row of that (ext_row, mate_row) pair is one such
            # cell (token equality is the join condition).  The generic
            # path below would re-scan the lake for row_cells, shuffle-join
            # it against pairs and run a collect_set keyed per PAIR
            # (duplicating each row's aggregate once per hit column); here
            # one aggregate keyed per ROW builds __m0 directly from hits and
            # the pair set is its explode.  Measured at sf0.1
            # (customer/c_custkey): 3 full cache scans + 74 MB shuffle into
            # a 35s-CPU ObjectHashAggregate became 1 scan + an EXCHANGE-FREE
            # aggregate (hits keep the cache's (table_id, row_id)
            # clustering, a subset of the grouping key).
            hits = (
                hits.select(
                    *keys, "table_id", F.col("row_id").alias("ext_row_id"),
                    "mate_row_id", "col_id",
                )
                .groupBy(*keys, "table_id", "ext_row_id", "mate_row_id")
                .agg(F.sort_array(F.collect_set("col_id")).alias("__m0"))
                .persist()
            )
            # candidate cap on the SAME hit counts as the generic path:
            # one hit row per (cell, input) match = sum of the per-row
            # matched-column set sizes
            table_hits = hits.groupBy(*keys, F.col("table_id").alias("__t")).agg(
                F.sum(F.size("__m0")).alias("count")
            )
        else:
            # The candidate-cap count below and the pair set both consume
            # `hits`, and the broadcast(cand_tables) makes them SEQUENTIAL
            # jobs — unpersisted, the second job re-scans the whole keyed
            # cell cache and re-probes the input broadcast hash (measured at
            # sf0.1, 600k-row lineitem probe: ~16s of task CPU per pass).
            # Persist a slim projection once: the cap job materializes it,
            # the pair job reads it back.  (The same frame the old shape
            # computed twice; MEMORY_AND_DISK, evicted under pressure.)
            hits = hits.select(
                *keys,
                "table_id",
                "row_id",
                "col_id",
                "mate_row_id",
                *[f"__q{i}" for i in range(degree)],
                *(["__q_hi", "__q_lo", "super_key_hi", "super_key_lo"] if prefilter else []),
            ).persist()
            # 3. candidate cap: top k_c tables by hit count
            #    (mate.py:313-314)
            table_hits = hits.groupBy(*keys, F.col("table_id").alias("__t")).count()
        held = hits
        # min_join_ratio drops small posting lists (mate.py:325-326)
        if min_join_ratio > 0:
            table_hits = table_hits.filter(F.col("count") >= min_join_ratio)
        # tie-break on __t keeps the cap deterministic
        cand_tables = self._top_n(
            table_hits, keys, [F.desc("count"), F.asc("__t")], k_c
        ).select(*keys, F.col("__t").alias("table_id"))
        hits = hits.join(F.broadcast(cand_tables), [*keys, "table_id"], "inner")

        if degree == 1:
            pairs = hits.select(
                *keys, "table_id", "ext_row_id",
                F.explode("__m0").alias("hit_col_id"), "mate_row_id", "__m0",
            )
            combo = F.concat_ws(
                "_",
                F.col("hit_col_id").cast("string"),
                F.array_join(
                    F.transform(F.col("__m0"), lambda c: c.cast("string")), "_"
                ),
            )
            # __m0 is non-empty by construction (it contains hit_col_id),
            # so every pair verifies — same as the generic degree-1 path
            matches = pairs.withColumn("column_combination", combo).drop("__m0")
            return matches, pairs.drop("__m0"), held

        # 4. super-key containment prefilter (mate.py:390-394); degree 1
        # skips it — see step 2
        if prefilter:
            hits = hits.filter(
                superkey_contains(
                    F.col("__q_hi"), F.col("__q_lo"),
                    F.col("super_key_hi"), F.col("super_key_lo"),
                )
            )

        pairs = hits.select(
            *keys,
            "table_id",
            F.col("row_id").alias("ext_row_id"),
            F.col("col_id").alias("hit_col_id"),
            "mate_row_id",
            *[f"__q{i}" for i in range(degree)],
        )

        # 5. verification (mate.py:94-123 evaluate_rows, 443-455):
        # every query column after the first must appear among the row's
        # cells; matched col-ids are appended in ascending order.  (The
        # degree-1 quirk — [-0:] slices the whole array, re-verifying the
        # single query column — is served by the fast path above.)
        verify_idx = list(range(1, degree))

        # Only cells whose token equals SOME verify-column value can ever
        # enter a collect_set below — semi-filter the lake by the distinct
        # verify tokens BEFORE the (table_id, row_id) shuffle.  Catalyst
        # cannot infer this (the membership test is inside an aggregate),
        # and it typically drops the shuffled volume by the lake/input
        # vocabulary ratio.  Pairs with no surviving cell row are correctly
        # lost: they can never verify.  With keys the filter is the union
        # of every query's tokens: a superset of each query's own filter,
        # so the per-pair equality below is untouched and the lake is
        # passed once for all queries.
        verify_tokens = (
            inp.select(
                F.explode(F.array(*[F.col(f"__q{i}") for i in verify_idx])).alias(
                    "__cell_tok"
                )
            ).distinct()
        )
        if small_input:
            verify_tokens = F.broadcast(verify_tokens)
        row_cells = cells.select(
            "table_id",
            F.col("row_id").alias("ext_row_id"),
            F.col("col_id").alias("__cell_col"),
            F.col("tokenized").alias("__cell_tok"),
        ).join(verify_tokens, "__cell_tok", "leftsemi")
        joined = pairs.join(row_cells, ["table_id", "ext_row_id"], "inner")

        verified = joined.groupBy(
            *keys, "table_id", "ext_row_id", "hit_col_id", "mate_row_id"
        ).agg(*[
            F.sort_array(
                F.collect_set(
                    F.when(F.col("__cell_tok") == F.col(f"__q{i}"), F.col("__cell_col"))
                )
            ).alias(f"__m{i}")
            for i in verify_idx
        ])

        is_match = F.lit(True)
        for i in verify_idx:
            is_match = is_match & (F.size(F.col(f"__m{i}")) > 0)
        verified = verified.withColumn("__match", is_match)

        combo = F.concat_ws(
            "_",
            F.col("hit_col_id").cast("string"),
            *[
                F.array_join(F.transform(F.col(f"__m{i}"), lambda c: c.cast("string")), "_")
                for i in verify_idx
            ],
        )
        matches = verified.filter(F.col("__match")).withColumn("column_combination", combo)
        return matches, pairs, held

    def _best_per_table(self, matches: DataFrame, keys: list[str], k: int) -> DataFrame:
        """6. scoring: count per (table, combination) (mate.py:457-470);
        best combination per table; reported score = count - 1; top ``k``
        tables — per ``keys`` group."""
        combo_counts = matches.groupBy(*keys, "table_id", "column_combination").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        best = (
            combo_counts.withColumn(
                "__rk",
                F.row_number().over(
                    Window.partitionBy(*keys, "table_id").orderBy(
                        F.desc("__cnt"), F.asc("column_combination")
                    )
                ),
            )
            .filter(F.col("__rk") == 1)
            .select(
                *keys,
                (F.col("__cnt") - 1).cast("long").alias("score"),
                "table_id",
                "column_combination",
            )
        )
        return self._top_n(best, keys, [F.desc("score"), F.asc("table_id")], k)

    def join_search_batch(
        self,
        inputs: dict[str, tuple[DataFrame, list[str], list[str] | None]],
        k: int = 10,
        k_c: int = 500,
        use_hash_optimization: bool = True,
    ) -> DataFrame:
        """Batched joinability search: run MANY MATE queries in ONE job —
        (query_id, score, table_id, column_combination), identical per
        query to :meth:`join_search`'s top_k (parity pinned in tests).

        ``inputs``: query_id -> (input_df, query_columns, input_order_by);
        all queries must share the same degree (mixed degrees verify
        different column counts — run two batches).

        Why batch: a discovery workload probes the SAME lake with
        hundreds of inputs.  Run serially, every query pays the index
        scan; batched, the union of prepared inputs (tagged by query_id)
        broadcasts against ONE scan of the keyed cell view.  The batch is
        the keyed form of :meth:`join_search`'s own pipeline: the same
        probe, candidate cap, verification and scoring, with
        ``__query_id`` prepended to every grouping and join key — per-query
        candidate caps and top-k become windows PARTITIONED by query
        (distributed across queries, bounded per query), verification
        shuffles once for the whole batch.  At a 1000-executor scale this
        turns N lake scans into one.

        Batch inputs are broadcast unconditionally — the batch path is
        for many SMALL probes; a fact-table-sized input belongs on
        :meth:`join_search`'s salted non-broadcast path.
        """
        if not inputs:
            raise ValueError("empty batch: join_search_batch needs at least one query")
        degrees = {len(qc) for (_, qc, _) in inputs.values()}
        if len(degrees) != 1:
            raise ValueError(f"mixed query degrees in one batch: {degrees}")
        degree = degrees.pop()
        prefilter = use_hash_optimization and degree > 1

        prepared = None
        for qid, (df, qcols, order) in sorted(inputs.items()):
            p = self.prepare_input(
                df, qcols, order, with_super_key=prefilter
            ).withColumn("__query_id", F.lit(qid))
            prepared = p if prepared is None else prepared.unionByName(p)

        keys = ["__query_id"]
        matches, _, _ = self._match(
            F.broadcast(prepared), keys, degree, prefilter,
            small_input=True, k_c=k_c, min_join_ratio=0,
        )
        return self._best_per_table(matches, keys, k).withColumnRenamed(
            "__query_id", "query_id"
        )
