"""Write an order-free digest of every ``build_index`` member for two lakes
and three hash settings, and of a saved index through a merge sequence:
one line per member with its row count and the sum of ``xxhash64`` over
all its columns.

Usage: python scripts/index_digest.py --sf-dir DIR [--code DIR] OUT.txt

Lakes: the perfbench lake (seed 5, ``perfbench/lake.py``) and the TPC-H
testdata at ``--sf-dir`` (the catalog's ``TESTDATA_LAKE_SPEC``).  Settings:
XASH at its defaults, ``with_super_keys=False`` and
``hash_function=bloom128``.

Merge sequence, on the perfbench lake: ``build_index(with_token_stats=True,
hot_token_threshold=100)`` → ``save``; ``upsert_into`` of ingest batch 1
(a changed planted table and a new table); ``delete_tables`` of base
table 1 (part).  After each step the saved index is loaded and every
persisted member, ``token_stats`` included, is digested.

``--code`` points at the checkout whose
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
# the persisted members of a saved index
SAVED_MEMBERS = [*MEMBERS, "token_stats"]


def _perfbench_module():
    spec = importlib.util.spec_from_file_location("perfbench_lake", os.path.join(HERE, "perfbench", "lake.py"))
    lake = sys.modules["perfbench_lake"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lake)
    return lake


def _read_back(spark, work: str, frames: dict):
    """The pandas ``frames`` as Spark frames, through parquet files."""
    for name, frame in frames.items():
        frame.to_parquet(os.path.join(work, f"{name}.parquet"), index=False)
    return {n: spark.read.parquet(os.path.join(work, f"{n}.parquet")) for n in frames}


def _perfbench_lake(spark, work: str, seed: int):
    lake = _perfbench_module()
    base = lake.base_lake()
    planted = lake.planted_additions(seed, base)
    specs = {**lake.BASE_SPECS, **{t.name: t.spec for t in planted}}
    frames = {**{n: base[n] for n in lake.BASE_SPECS}, **{t.name: t.frame for t in planted}}
    return _read_back(spark, work, frames), specs


def _digest(df, F) -> str:
    n, s = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return f"{n} | {s}"


def _merge_digests(spark, work: str, seed: int, tables: dict, specs: dict, F) -> list[str]:
    """Digest lines of the saved perfbench index after save, upsert and
    delete."""
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.index.lake_index import LakeIndex

    lake = _perfbench_module()
    batch = lake.ingest_request(seed, lake.base_lake(), 1).batch
    delta_tables = _read_back(spark, work, {f"delta_{p.name}": p.frame for p in batch})
    delta_specs = {f"delta_{p.name}": p.spec for p in batch}
    path = os.path.join(work, "merge_index")
    steps = [
        ("save", lambda: build_index(
            spark, tables, specs, with_token_stats=True, hot_token_threshold=100
        ).save(path)),
        ("upsert", lambda: build_index(spark, delta_tables, delta_specs).upsert_into(path)),
        ("delete", lambda: LakeIndex.delete_tables(spark, path, [1])),
    ]
    lines = []
    for step, run in steps:
        run()
        idx = LakeIndex.load(spark, path)
        for member in SAVED_MEMBERS:
            df = getattr(idx, member)
            lines.append(f"perfbench_seed{seed} | merge:{step} | {member} | "
                         + ("absent" if df is None else _digest(df, F)))
    return lines


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
        perfbench = _perfbench_lake(spark, work, args.seed)
        lakes = [
            (f"perfbench_seed{args.seed}", *perfbench),
            (os.path.basename(os.path.normpath(args.sf_dir)),
             load_tables(spark, args.sf_dir), TESTDATA_LAKE_SPEC),
        ]
        lines = ["# lake | setting | member | rows | sum(xxhash64(all columns))"]
        for lake, tables, specs in lakes:
            for setting, kwargs in settings:
                idx = build_index(spark, tables, specs, **kwargs).cache()
                for member in MEMBERS:
                    lines.append(f"{lake} | {setting} | {member} | {_digest(getattr(idx, member), F)}")
                idx.uncache()
        lines += _merge_digests(spark, work, args.seed, *perfbench, F)
        with open(args.out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print("\n".join(lines))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
