"""Write an order-free digest of every ``build_index`` member for two lakes
and three hash settings: one line per member with its row count and the
sum of ``xxhash64`` over all its columns.

Usage: python scripts/index_digest.py --sf-dir DIR [--code DIR] OUT.txt

Lakes: the perfbench lake (seed 5, ``perfbench/lake.py``) and the TPC-H
testdata at ``--sf-dir`` (the catalog's ``TESTDATA_LAKE_SPEC``).  Settings:
XASH at its defaults, ``with_super_keys=False`` and
``hash_function=bloom128``.  ``--code`` points at the checkout whose
package builds the index (default: this one), so the file can be taken of
an older commit and compared byte for byte; the perfbench lake generator
always comes from this checkout and the file names no checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEMBERS = ["cells", "row_keys", "column_headers", "table_info", "col_flags"]


def _perfbench_lake(spark, work: str, seed: int):
    spec = importlib.util.spec_from_file_location("perfbench_lake", os.path.join(HERE, "perfbench", "lake.py"))
    lake = sys.modules["perfbench_lake"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lake)
    base = lake.base_lake()
    planted = lake.planted_additions(seed, base)
    specs = {**lake.BASE_SPECS, **{t.name: t.spec for t in planted}}
    frames = {**{n: base[n] for n in lake.BASE_SPECS}, **{t.name: t.frame for t in planted}}
    for name, frame in frames.items():
        frame.to_parquet(os.path.join(work, f"{name}.parquet"), index=False)
    return {n: spark.read.parquet(os.path.join(work, f"{n}.parquet")) for n in specs}, specs


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--code", default=HERE)
    p.add_argument("--sf-dir", required=True, help="TPC-H testdata directory")
    p.add_argument("--seed", type=int, default=5, help="perfbench lake seed")
    args = p.parse_args()
    code = os.path.abspath(args.code)
    # the package under test, on the driver and in the Python workers
    sys.path.insert(0, code)
    os.environ["PYTHONPATH"] = code + os.pathsep + os.environ.get("PYTHONPATH", "")
    from pyspark.sql import functions as F

    from datalake_indexes_spark.functions.hashes import bloom128
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.plans.queries._base import load_tables
    from datalake_indexes_spark.session import get_spark
    from datalake_indexes_spark.sources.catalog import TESTDATA_LAKE_SPEC

    settings = [("xash", {}), ("no_keys", {"with_super_keys": False}),
                ("bloom128", {"hash_function": bloom128})]
    spark = get_spark("index-digest", master="local[2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="index_digest_")
    try:
        lakes = [
            (f"perfbench_seed{args.seed}", *_perfbench_lake(spark, work, args.seed)),
            (os.path.basename(os.path.normpath(args.sf_dir)),
             load_tables(spark, args.sf_dir), TESTDATA_LAKE_SPEC),
        ]
        lines = ["# lake | setting | member | rows | sum(xxhash64(all columns))"]
        for lake, tables, specs in lakes:
            for setting, kwargs in settings:
                idx = build_index(spark, tables, specs, **kwargs).cache()
                for member in MEMBERS:
                    df = getattr(idx, member)
                    n, s = df.agg(
                        F.count(F.lit(1)),
                        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
                    ).first()
                    lines.append(f"{lake} | {setting} | {member} | {n} | {s}")
                idx.uncache()
        with open(args.out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print("\n".join(lines))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
