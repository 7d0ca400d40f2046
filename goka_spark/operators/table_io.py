"""Bucketed table IO — persistent co-partitioning for the group table.

goka's copartition requirement (copartition_strategy.go) exists so a
processor can join tables without data movement.  The lake-native
version: write the group table bucketed by key; any later join between
two tables bucketed the same way (same column, same bucket count)
needs NO shuffle on either side — the scan's output partitioning
already satisfies the join.  At 100 TB this converts the per-query
shuffle of the big fact table into a one-time write-side cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table_name: str, key: str = "key",
                   buckets: int = 32, sort: bool = True,
                   mode: str = "overwrite") -> None:
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str = "key", how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables — plan contains no Exchange."""
    return spark.table(left_table).join(spark.table(right_table), on=key, how=how)
