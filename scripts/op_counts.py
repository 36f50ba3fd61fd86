"""Count the Spark jobs and the whole-stage-codegen compiles of every
operation of the perfbench request streams, and digest each result.

Usage: python scripts/op_counts.py [--code DIR] [--seed N] OUT.txt

Sets the perfbench lake's index up the way ``perfbench/run.py`` does
(``build_index`` -> ``save`` -> ``load`` -> ``cache``), then runs, in one
session, ``enrich`` requests 0-7 (``enrich_dataset`` with the enriched
frame, the top tables and the correlations collected) and ``discover``
requests 0-11 (``MATE.join_search`` with ``top_k`` collected).  One line
per operation: its jobs (every job the status store lists that was not
there before the operation), its codegen compiles (the delta of
``CodegenMetrics.METRIC_COMPILATION_TIME``'s count) and a digest of its
output (enrich: the enriched frame sorted by ``mate_row_id``, the
top-table list and the correlation list in order, correlations to 12
significant digits; discover: the ``top_k`` rows in order).

``--code`` points at the checkout whose package runs the operations
(default: this one), so the same file can be taken of an older commit;
the lake generator always comes from this checkout.  Jobs and digests are
fixed by the code; compiles also by what the JVM compiled before, so they
are comparable only between runs of the same stream.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10
STREAMS = (("enrich", 8), ("discover", 12))


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = sys.modules[name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _digest(value) -> str:
    return hashlib.sha1(repr(value).encode()).hexdigest()[:12]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--code", default=HERE)
    p.add_argument("--seed", type=int, default=5)
    args = p.parse_args()
    code = os.path.abspath(args.code)
    # the package under test, on the driver and in the Python workers
    sys.path.insert(0, code)
    os.environ["PYTHONPATH"] = code + os.pathsep + os.environ.get("PYTHONPATH", "")
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.index.lake_index import LakeIndex
    from datalake_indexes_spark.operators.mate import MATE
    from datalake_indexes_spark.pipelines.enrichment import enrich_dataset
    from datalake_indexes_spark.session import get_spark

    lake = _load("perfbench_lake", os.path.join(HERE, "perfbench", "lake.py"))

    work = tempfile.mkdtemp(prefix="op_counts_")
    try:
        base = lake.base_lake()
        planted = lake.planted_additions(args.seed, base)
        specs = {**lake.BASE_SPECS, **{t.name: t.spec for t in planted}}
        frames = {**{n: base[n] for n in lake.BASE_SPECS}, **{t.name: t.frame for t in planted}}
        for name, frame in frames.items():
            frame.to_parquet(os.path.join(work, f"{name}.parquet"), index=False)

        spark = get_spark("op-counts")
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

        def counters() -> tuple[set[int], int]:
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            return set(tracker.getJobIdsForGroup(None)), compiles.getCount()

        tables = {n: spark.read.parquet(os.path.join(work, f"{n}.parquet")) for n in specs}
        build_index(spark, tables, specs).save(os.path.join(work, "index"))
        index = LakeIndex.load(spark, os.path.join(work, "index")).cache()
        for member in (index.cells, index.row_keys, index.column_headers,
                       index.table_info, index.col_flags):
            member.count()

        def enrich(req, df):
            res = enrich_dataset(index, df, req.query_columns, req.target, k=K)
            enriched = res.enriched.toPandas().sort_values("mate_row_id").reset_index(drop=True)
            top = [r["table_id"] for r in res.top_tables.collect()]
            corr = [(r["table_col_id"], float(f"{r['corr']:.12g}")) for r in res.correlations.collect()]
            return enriched.to_csv(index=False), top, corr

        def discover(req, df):
            res = MATE(index).join_search(df, req.query_columns, k=K)
            return [tuple(r) for r in res.top_k.collect()]

        lines = [f"# perfbench lake, seed {args.seed}, local[{sc.defaultParallelism}]",
                 "# operation | request | jobs | codegen compiles | output digest"]
        for kind, n in STREAMS:
            run = enrich if kind == "enrich" else discover
            for i in range(n):
                req = lake.REQUESTS[kind](args.seed, base, i)
                df = spark.createDataFrame(req.input_frame(base))
                jobs0, comp0 = counters()
                out = run(req, df)
                jobs1, comp1 = counters()
                line = f"{kind} | {i} | {len(jobs1 - jobs0)} | {comp1 - comp0} | {_digest(out)}"
                lines.append(line)
                print(line, flush=True)
        with open(args.out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
