"""Summarize the SQL executions of one ``build_index(...).save()`` of the
perfbench lake: per execution, the member it writes, its job count, the
lake scans that read rows and the Python-eval nodes that ran.

Usage: python scripts/save_executions.py [--code DIR --label L] [--seed N] OUT.txt

``--code`` points at the checkout whose package is built and saved
(default: this one), so the same summary can be taken of an older commit;
the status-store reader (``plans/runtime.py::sql_executions``) and the lake
generator always come from this checkout.  A node under a cached relation
is listed with the plan it caches but reads 0 rows when the cache serves
it, so only nodes with rows > 0 count as run.
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


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = sys.modules[name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--code", default=HERE)
    p.add_argument("--label", default="this checkout", help="names --code in OUT")
    p.add_argument("--seed", type=int, default=5)
    args = p.parse_args()
    code = os.path.abspath(args.code)
    # the package under test, on the driver and in the Python workers
    sys.path.insert(0, code)
    os.environ["PYTHONPATH"] = code + os.pathsep + os.environ.get("PYTHONPATH", "")
    from datalake_indexes_spark.index.builder import build_index
    from datalake_indexes_spark.session import get_spark

    lake = _load("perfbench_lake", os.path.join(HERE, "perfbench", "lake.py"))
    runtime = _load("runtime_reader", os.path.join(HERE, "datalake_indexes_spark", "plans", "runtime.py"))

    work = tempfile.mkdtemp(prefix="save_execs_")
    try:
        base = lake.base_lake()
        planted = lake.planted_additions(args.seed, base)
        specs = {**lake.BASE_SPECS, **{t.name: t.spec for t in planted}}
        frames = {**{n: base[n] for n in lake.BASE_SPECS}, **{t.name: t.frame for t in planted}}
        for name, frame in frames.items():
            frame.to_parquet(os.path.join(work, f"{name}.parquet"), index=False)

        spark = get_spark("save-executions")
        spark.sparkContext.setLogLevel("ERROR")
        tables = {n: spark.read.parquet(os.path.join(work, f"{n}.parquet")) for n in specs}
        idx = build_index(spark, tables, specs)
        before = max((e["id"] for e in runtime.sql_executions(spark)), default=-1)
        idx.save(os.path.join(work, "index"))
        execs = runtime.sql_executions(spark, before)

        lines = [f"# build_index(...).save() of the perfbench lake, seed {args.seed}",
                 f"# code: {args.label}",
                 "# execution | member | jobs | lake scans run (rows) | Python eval nodes run (rows)"]
        scanning = 0
        for member, e in zip(MEMBERS, execs):
            scans = [rows for name, desc, rows in e["nodes"]
                     if name.startswith("Scan") and work in desc and rows]
            evals = [f"{name}={rows}" for name, _, rows in e["nodes"]
                     if "EvalPython" in name and rows]
            scanning += bool(scans)
            lines.append(f"{e['id']} | {member} | {e['jobs']} | {scans} | {evals}")
        lines.append(f"# executions: {len(execs)}, jobs: {sum(e['jobs'] for e in execs)}, "
                     f"executions that scan the lake: {scanning}")
        with open(args.out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print("\n".join(lines))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
