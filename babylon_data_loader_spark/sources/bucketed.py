"""Bucketed-table support: shuffle-free co-located joins.

At 100 TB the orders⋈lineitem join is the dominant shuffle. Writing
both tables bucketed by the join key (`bucketBy(n, key)` +
`saveAsTable`) pre-partitions the data on disk, so Spark plans a
sort-merge join with NO Exchange on either side — the join cost drops
to a per-bucket streaming merge. Bucket counts should match (or be
multiples, with spark.sql.bucketing.coalesceBucketsInJoin.enabled).

These helpers wrap the write/read pattern; tests/test_bucketed.py
asserts the Exchange-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Persist as a bucketed and bucket-sorted managed table."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With aligned
    bucket counts the physical plan contains no shuffle Exchange."""
    return spark.table(left_table).join(spark.table(right_table), on=on)
