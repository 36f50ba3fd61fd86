"""SQL surface — register a LakeIndex as temp views so the whole engine is
queryable from ``spark.sql`` (the Spark-native equivalent of the
reference's "connect psql and query the index tables" workflow).

Every member that is set becomes ``<prefix>_<member>``; the denormalized
keyed view is registered too when present.  Views are lazy — registering
costs nothing and every SQL query over them goes through the same
Catalyst plans the DataFrame API produces (pushdown/pruning included,
PLANS.md §1-2).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from datalake_indexes_spark.index.lake_index import LakeIndex


def register_index_views(
    spark: SparkSession, index: LakeIndex, prefix: str = "lake"
) -> list[str]:
    """Register the index members as temp views; returns the view names."""
    names = []
    for name, df in index._frames().items():
        view = f"{prefix}_{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names
