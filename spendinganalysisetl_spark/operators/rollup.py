"""Grouping sets / rollup / cube (SURVEY.md §2.4 note: absent from the
reference — its one grain is the single global report row; part of the
generalized surface, §7 Phase 4).

Spark expands rollup/cube into a union of grouping sets executed as one
Expand + hash-aggregate — a single pass over the fact, not one scan per
grain. NULL marks the rolled-up positions in both Spark and the ANSI
oracle, and ``grouping_id`` disambiguates genuine NULL keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spendinganalysisetl_spark.functions.scalars import money_sum, revenue


def lineitem_rollup(lineitem: DataFrame) -> DataFrame:
    """Revenue at (returnflag, linestatus), (returnflag), and () grains."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            money_sum(revenue()).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.grouping_id().alias("gid"),
        )
        .repartition(1).sortWithinPartitions("gid", "l_returnflag", "l_linestatus")
    )


def lineitem_cube(lineitem: DataFrame) -> DataFrame:
    """All four grouping sets of (returnflag, linestatus)."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            money_sum(revenue()).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .repartition(1).sortWithinPartitions("gid", "l_returnflag", "l_linestatus")
    )
