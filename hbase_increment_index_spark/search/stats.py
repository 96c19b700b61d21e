"""Stats surface — SURVEY.md §2.2 Q13 (Solr ``stats.field``).

Every double aggregate goes through ``numeric.exact_*`` so results are
order-independent (partition-count invariant) — see numeric.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.numeric import exact_avg, exact_std, exact_sum


def stats_field(
    df: DataFrame, field: str, group_by: list[str] | None = None, scale: int = 6
) -> DataFrame:
    """Q13 — min/max/sum/mean/stddev/count/missing for a numeric field,
    optionally per group (Solr ``stats.field=f&stats.facet=g``).

    The partial aggregation runs inside the scan tasks of ``df``: no
    repartition is added. A served ``select`` passes the filtered match
    set, where a fan-out's planning probe and shuffle cost more than the
    few decimal additions per row it would spread; a caller whose input
    is a large, under-partitioned scan can repartition it first."""
    c = F.col(field)
    aggs = [
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        exact_sum(c, scale).alias("sum_v"),
        exact_avg(c, scale).alias("mean_v"),
        exact_std(c).alias("stddev_v"),
        F.count(c).alias("count_v"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).cast("long").alias("missing_v"),
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)
