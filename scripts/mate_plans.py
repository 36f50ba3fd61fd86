"""Write the normalized optimized logical plans of ``MATE.join_search``'s
``top_k`` and ``join_pairs`` for a fixed set of cases over the planted test
lake, together with their result rows and ``stats``.

Usage: python scripts/mate_plans.py [--code DIR] OUT.txt

``--code`` points at the checkout whose package runs the searches (default:
this one), so the same file can be taken of an older commit and compared
byte for byte; the file therefore names no checkout.  The planted lake
(``tests/conftest.py::planted_lake``) always comes from this checkout.
Expression and exchange ids (``#123``, ``plan_id=45``) are blanked: they
are allocation counters, not plan structure.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIR = ["director_name", "movie_title"]
SALTED = {"broadcast_threshold": 0, "hot_token_threshold": 3, "n_salt": 4}
# name, query columns, extra join_search keyword arguments
CASES = [
    ("degree1", ["director_name"], {}),
    ("degree2", PAIR, {}),
    ("degree3", [*PAIR, "num"], {}),
    ("degree2_no_hash", PAIR, {"use_hash_optimization": False}),
    ("degree1_min_join_ratio", ["director_name"], {"min_join_ratio": 20}),
    ("degree2_min_join_ratio", PAIR, {"min_join_ratio": 100}),
    ("degree1_salted", ["director_name"], SALTED),
    ("degree2_salted", PAIR, SALTED),
    ("degree2_stats", PAIR, {"stats": {}}),
]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _tree(node, caches: dict[str, int], depth: int = 0) -> list[str]:
    """One line per plan node, children indented.  A cached relation's
    executed plan is printed once, as ``caches`` entry (text -> number), and
    referenced by number: inline it would repeat the whole index build under
    every node that reads the index."""
    line = "  " * depth + re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", node.simpleString(1000)))
    name = node.nodeName()
    if name == "InMemoryRelation":
        text = "\n".join(_tree(node.cacheBuilder().cachedPlan(), caches))
        return [f"{line} = cache {caches.setdefault(text, len(caches))}"]
    if name == "AdaptiveSparkPlan":
        children = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        children = [node.plan()]
    else:
        children = _seq(node.children()) + _seq(node.innerChildren())
    return [line] + [ln for c in children for ln in _tree(c, caches, depth + 1)]


def _plan(df, caches: dict[str, int]) -> str:
    return "\n".join(_tree(df._jdf.queryExecution().optimizedPlan(), caches))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("out")
    p.add_argument("--code", default=HERE)
    args = p.parse_args()
    code = os.path.abspath(args.code)
    sys.path.insert(0, code)
    os.environ["PYTHONPATH"] = code + os.pathsep + os.environ.get("PYTHONPATH", "")
    from pyspark.sql import functions as F

    from datalake_indexes_spark.operators.mate import MATE
    from datalake_indexes_spark.session import get_spark

    spec = importlib.util.spec_from_file_location("planted_conftest", os.path.join(HERE, "tests", "conftest.py"))
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)

    spark = get_spark("mate-plans", master="local[2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    planted = conftest.planted_lake(spark)
    # a third query column that lake_join_hi.feat_num holds: 2 * the title's number
    inp = planted["input"].withColumn(
        "num", (F.regexp_extract("movie_title", r"(\d+)$", 1).cast("int") * 2).cast("string")
    )
    mate = MATE(planted["index"])

    lines = ["# MATE.join_search over the planted test lake"]
    caches: dict[str, int] = {}
    for name, qcols, kwargs in CASES:
        kwargs = {k: (dict(v) if isinstance(v, dict) else v) for k, v in kwargs.items()}
        lines.append(f"## {name}: query_columns={qcols} {kwargs}")
        res = mate.join_search(inp, qcols, k=5, **kwargs)
        lines += [
            "### top_k plan", _plan(res.top_k, caches),
            "### join_pairs plan", _plan(res.join_pairs, caches),
            "### top_k rows", *map(str, sorted(map(tuple, res.top_k.collect()))),
            "### join_pairs rows", *map(str, sorted(map(tuple, res.join_pairs.collect()))),
            f"### stats {sorted(res.stats.items())}",
        ]
    for text, n in caches.items():
        lines += [f"## cache {n}", text]
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
