"""Discovery benchmark over the package's public API.

    python3 perfbench/run.py --workload enrich --seed 1 --seconds 11 --trace 0

Builds a seeded TPC-H-shaped lake (``lake.py``), sets up the index once the
way a user does (``get_spark`` -> ``build_index`` -> ``LakeIndex.save`` ->
``LakeIndex.load`` -> ``LakeIndex.cache``), then drives one closed-loop
client through a workload's request stream for ``--seconds`` and checks
every result (``checks.py``). The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
-- the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``spans.py`` with ``--trace 1``.

Workloads: ``enrich`` (``enrich_dataset`` requests), ``discover``
(``MATE.join_search`` of degree 1-3) and ``ingest`` (``build_index`` +
``LakeIndex.upsert_into`` batches). Spark runs on ``local[<cpus>]`` with the
CPUs this process may use. Everything is written under the checkout:
scratch files in ``.perfbench_work/`` (removed at exit) and span dumps of
traced runs in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# a tree without the package stops here, before any result is printed
from datalake_indexes_spark import session  # noqa: E402
from datalake_indexes_spark.index import builder  # noqa: E402
from datalake_indexes_spark.index.lake_index import LakeIndex  # noqa: E402
from datalake_indexes_spark.operators.mate import MATE  # noqa: E402
from datalake_indexes_spark.pipelines import enrichment  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import checks  # noqa: E402
import lake  # noqa: E402
import spans  # noqa: E402

K = 10
HEAP = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "first_op_s": "s",
    "peak_rss_mb": "MB",
    "index_disk_mb": "MB",
    "op_ok_ratio": "ratio",
}

_SPARK = ("jobs", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio")
PER_LAYER_UNITS = {
    "session.get_spark.wall_s": "s",
    "session.cache.rdds_after_op": "count",
    "session.cache.storage_mb_after_op": "MB",
    "index.builder.build_index.wall_s": "s",
    **{f"index.builder.build_index.{k}": u for k, u in _SPARK},
    "index.builder.build_index.cells": "count",
    "index.builder.build_index.cells_per_s": "1/s",
    "index.lake_index.save.wall_s": "s",
    "index.lake_index.save.mb_written": "MB",
    "index.lake_index.save.files_written": "count",
    "index.lake_index.load.wall_s": "s",
    "index.lake_index.cache.wall_s": "s",
    "index.lake_index.upsert_into.wall_s": "s",
    "index.lake_index.upsert_into.jobs": "count",
    "index.lake_index.upsert_into.mb_written": "MB",
    "index.lake_index.upsert_into.write_amplification": "ratio",
    "operators.mate.prepare_input.wall_s": "s",
    "operators.mate.prepare_input.rows_out": "count",
    "operators.mate.join_search.wall_s": "s",
    **{f"operators.mate.join_search.{k}": u for k, u in _SPARK},
    "operators.mate.join_search.stages": "count",
    "operators.mate.join_search.tasks": "count",
    "operators.mate.join_search.candidate_pairs": "count",
    "operators.mate.join_search.matching_rows": "count",
    "operators.mate.join_search.precision": "ratio",
    "operators.duplicates.get_relations.wall_s": "s",
    "operators.duplicates.get_relations.jobs": "count",
    "operators.duplicates.get_relations.shuffle_mb": "MB",
    "operators.duplicates.remove_duplicate_tables.dropped_ratio": "ratio",
    "operators.cocoa.enrich_multicolumn.wall_s": "s",
    "operators.cocoa.enrich_multicolumn.jobs": "count",
    "operators.cocoa.enrich_multicolumn.stages": "count",
    "operators.cocoa.enrich_multicolumn.shuffle_mb": "MB",
    "operators.cocoa.enrich_multicolumn.features_evaluated": "count",
    "operators.cocoa.target_ranks.wall_s": "s",
    "pipelines.enrichment.enrich_dataset.wall_s": "s",
    "pipelines.enrichment.enrich_dataset.self_s": "s",
    "pipelines.enrichment.enrich_dataset.jobs": "count",
    "pipelines.enrichment.enrich_dataset.materialize_s": "s",
    "trace.op_wall_s": "s",
    "trace.child_self_sum_s": "s",
    "trace.overhead_s": "s",
}


def _configure_env(tmp: str) -> None:
    """Spark settings of the run, fixed before the JVM starts: all CPUs
    this process may use, a fixed 2 GB driver heap (initial = maximum, so
    the resident size does not depend on when the heap happens to grow),
    and every scratch file under ``tmp``."""
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # the Python workers import the package from the checkout
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
            " pyspark-shell"
        ),
    )


def _disk_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Tally:
    """Attempted and failed operations: an operation fails when it raises
    or any output check reports a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"# {label} failed: {problems}", flush=True)


class Bench:
    """One run: the lake on disk, the live session and index, the tracer."""

    def __init__(self, args, work: str):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.work = work
        self.lake = lake.base_lake()
        planted = lake.planted_additions(self.seed, self.lake)
        self.specs = {**lake.BASE_SPECS, **{p.name: p.spec for p in planted}}
        frames = {**{n: self.lake[n] for n in lake.BASE_SPECS},
                  **{p.name: p.frame for p in planted}}
        os.makedirs(os.path.join(work, "lake"))
        for name, frame in frames.items():
            frame.to_parquet(os.path.join(work, "lake", f"{name}.parquet"), index=False)
        self.index_dir = os.path.join(work, "index")
        self.tracer = spans.Tracer()
        if args.trace:
            spans.install(self.tracer)
        self.traced = bool(args.trace)
        self.spark = None
        self.index = None
        self.tally = Tally()
        self.first_degree2_checked = False

    # ------------------------------------------------------------------
    def setup(self) -> float:
        """Session start until the index is ready: built, saved, loaded and
        cached (``ingest``: the base index is saved)."""
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tables = {
            n: spark.read.parquet(os.path.join(self.work, "lake", f"{n}.parquet"))
            for n in self.specs
        }
        builder.build_index(spark, tables, self.specs).save(self.index_dir)
        self.spark = spark
        self.index = None if self.workload == "ingest" else self.load_cached()
        return time.perf_counter() - t0

    def load_cached(self):
        """The saved index, loaded, cached and materialized."""
        index = LakeIndex.load(self.spark, self.index_dir).cache()
        for member in (index.cells, index.row_keys, index.column_headers,
                       index.table_info, index.col_flags):
            member.count()
        return index

    # ------------------------------------------------------------------
    def op(self, kind: str, i: int, traced: bool) -> tuple[float, list[str]]:
        """Run request ``i`` of stream ``kind``; returns (latency, problems).
        Input frames are built before the clock starts and the checks run
        after it stops."""
        req = lake.REQUESTS[kind](self.seed, self.lake, i)
        call, check = getattr(self, f"_{kind}")(req)
        self.tracer.on = traced
        root = self.tracer.begin(f"op.{kind}") if traced else None
        t0 = time.perf_counter()
        try:
            out, err = call(), None
        except Exception as exc:  # a failing operation is counted, not fatal
            traceback.print_exc()
            out, err = None, f"{type(exc).__name__}: {str(exc)[:500]}"
        latency = time.perf_counter() - t0
        self.tracer.on = False
        if root is not None:
            self.tracer.end(root)
            self.tracer.collect(root)
            root.attrs["cache"] = self.tracer.cache_residency()
        if err is not None:
            return latency, [err]
        try:
            return latency, check(out)
        except Exception as exc:
            traceback.print_exc()
            return latency, [f"check raised {type(exc).__name__}: {str(exc)[:500]}"]

    # Each workload's request -> (call, check): ``call`` is the timed
    # operation, ``check`` validates what it returned.

    def _enrich(self, req):
        pdf = req.input_frame(self.lake)
        df = self.spark.createDataFrame(pdf)

        def call():
            res = enrichment.enrich_dataset(self.index, df, req.query_columns, req.target, k=K)
            enriched = res.enriched.toPandas()
            top = [r["table_id"] for r in res.top_tables.collect()]
            corr = [(r["table_col_id"], r["corr"]) for r in res.correlations.collect()]
            return enriched, top, corr

        def check(out):
            enriched, top, corr = out
            return checks.check_enrich(len(pdf), len(enriched), list(enriched.columns), top, corr)
        return call, check

    def _discover(self, req):
        df = self.spark.createDataFrame(req.input_frame(self.lake))

        def top_k(**kwargs):
            res = MATE(self.index).join_search(df, req.query_columns, k=K, **kwargs)
            return [(r["score"], r["table_id"], r["column_combination"]) for r in res.top_k.collect()]

        def check(out):
            reference = None
            if len(req.query_columns) >= 2 and not self.first_degree2_checked:
                self.first_degree2_checked = True
                reference = top_k(use_hash_optimization=False)
            return checks.check_discover(out, K, reference)
        return top_k, check

    def _ingest(self, req):
        frames = {p.name: self.spark.createDataFrame(p.frame) for p in req.batch}
        specs = {p.name: p.spec for p in req.batch}
        probe = self.spark.createDataFrame(req.input_frame(self.lake))

        def call():
            # the batch is done when a reloaded index finds it
            delta = builder.build_index(self.spark, frames, specs)
            ids = delta.upsert_into(self.index_dir)
            reloaded = LakeIndex.load(self.spark, self.index_dir)
            top = MATE(reloaded).join_search(probe, req.query_columns, k=K).top_k
            return delta, ids, reloaded, [r["table_id"] for r in top.collect()]

        def per_table(cells):
            return {r["table_id"]: r["count"] for r in cells.groupBy("table_id").count().collect()}

        def check(out):
            delta, ids, reloaded, top = out
            return checks.check_ingest(
                per_table(delta.cells),
                per_table(reloaded.cells.filter(F.col("table_id").isin(ids))),
                req.batch[0].spec.table_id, top)
        return call, check


def run(args, work: str) -> dict:
    b = Bench(args, work)
    tracer = b.tracer
    tracer.on = b.traced
    root = tracer.begin("setup") if b.traced else None
    setup_s = b.setup()
    tracer.on = False
    if root is not None:
        tracer.end(root)
        tracer.collect(root)
    index_disk = _disk_mb(b.index_dir)

    first, problems = b.op(b.workload, 0, traced=False)
    b.tally.record("op 0", problems)
    warm, warm_traced = [], []
    i = 1
    # the window counts operation time only, not the checks between
    # operations; the traced run alternates untraced and traced operations
    # and needs at least one of each for the overhead estimate
    while (sum(warm) + sum(warm_traced) < b.seconds
           or (b.traced and (len(warm) < 1 or len(warm_traced) < 1))):
        traced = b.traced and i % 2 == 0
        latency, problems = b.op(b.workload, i, traced=traced)
        b.tally.record(f"op {i}", problems)
        (warm_traced if traced else warm).append(latency)
        i += 1
    if b.workload == "ingest":
        index_disk = _disk_mb(b.index_dir)
    jvm_pid = b.spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss = _hwm_mb("self") + _hwm_mb(jvm_pid)

    print(
        f"# {b.workload} seed={b.seed}: setup_s={setup_s:.2f} "
        f"first_op_s={first:.2f} warm n={len(warm)} "
        f"latencies={[round(x, 2) for x in warm]} traced={[round(x, 2) for x in warm_traced]}",
        flush=True,
    )
    if not b.traced:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": len(warm) / sum(warm),
            "latency_p50_s": statistics.median(warm),
            "first_op_s": first,
            "peak_rss_mb": peak_rss,
            "index_disk_mb": index_disk,
            "op_ok_ratio": (b.tally.attempted - b.tally.failed) / b.tally.attempted,
        }
        units = E2E_UNITS
    else:
        metrics = _layer_report(b, warm, warm_traced)
        units = PER_LAYER_UNITS
    return {
        "correct": b.tally.failed == 0,
        "attempted": b.tally.attempted,
        "failed": b.tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _layer_report(b: Bench, warm: list[float], warm_traced: list[float]) -> dict:
    """Per-layer medians of the traced run. Layers the workload never
    calls are measured by one traced tour operation of the workload that
    does (``enrich`` covers MATE, duplicates, COCOA and the pipeline;
    ``ingest`` covers ``upsert_into``)."""
    tracer = b.tracer
    ops = [s for s in tracer.spans if s.parent is None and s.name.startswith("op.")]
    last = ops[-1].attrs["cache"]
    own = spans.layer_metrics(tracer.spans)
    tours = {"enrich": ["ingest"], "discover": ["enrich", "ingest"], "ingest": ["enrich"]}
    n_own = len(tracer.spans)
    if b.index is None:  # ingest: the enrich tour needs a cached index
        tracer.on = True
        root = tracer.begin("tour.index")
        b.index = b.load_cached()
        tracer.on = False
        tracer.end(root)
        tracer.collect(root)
    for kind in tours[b.workload]:
        _, problems = b.op(kind, 0, traced=True)
        b.tally.record(f"tour {kind}", problems)
    for key, value in spans.layer_metrics(tracer.spans[n_own:]).items():
        own.setdefault(key, value)
    child_sums = [sum(s.self_s for s in op.subtree() if s is not op) for op in ops]
    own.update({
        "session.cache.rdds_after_op": last[0],
        "session.cache.storage_mb_after_op": last[1],
        "trace.op_wall_s": statistics.median(op.wall for op in ops),
        "trace.child_self_sum_s": statistics.median(child_sums),
        "trace.overhead_s": statistics.median(warm_traced) - statistics.median(warm),
    })
    missing = [k for k in PER_LAYER_UNITS if k not in own]
    if missing:
        raise RuntimeError(f"traced run did not measure {missing}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spans-{b.workload}-seed{b.seed}.json"), "w") as fh:
        json.dump([
            {"id": s.id, "parent": s.parent, "root": s.root, "name": s.name,
             **spans.span_values(s), "job_ids": s.jobs, "stage_rows": s.stages}
            for s in tracer.spans
        ], fh, indent=1)
    return own


def _shutdown() -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["enrich", "discover", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _configure_env(tmp)
    os.chdir(work)
    try:
        result = run(args, work)
    finally:
        try:
            _shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
