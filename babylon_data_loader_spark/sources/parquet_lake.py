"""Parquet lake helpers: partitioned fact table + append-only audit log.

The reference stores each data source in its own Mongo collection
`transactions_{dataSource}` (storage/mongo_repository.go:40,55) and
appends a SyncLog row per bulk write (storage/mongo_repository.go:62-72).
Here that is ONE logical lake table physically partitioned by
`data_source` (partition pruning makes per-source reads as cheap as
per-collection reads) plus an append-only `sync_log` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from babylon_data_loader_spark.schemas import SYNC_LOG_SCHEMA


def read_transactions(
    spark: SparkSession, lake_path: str, data_source: str | None = None
) -> DataFrame:
    """Read the fact table; `data_source` triggers partition pruning —
    the physical analog of picking one Mongo collection.

    A versioned lake (operators/tx_lake.py) is resolved through its
    _CURRENT manifest — an atomic snapshot, read once by ``open()``; a
    plain parquet lake is read directly."""
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    lake = TransactionalLake.open(lake_path)
    df = (
        spark.read.parquet(lake_path)
        if lake.snapshot is None
        else lake.read(spark, version=lake.snapshot["version"])
    )
    if data_source is not None:
        df = df.filter(F.col("data_source") == data_source)
    return df


def append_sync_log(
    spark: SparkSession, sync_log_path: str, batch: DataFrame
) -> DataFrame:
    """Append one audit row per data source in `batch`.

    Row shape mirrors model.SyncLog (sync_log.go:6-10): the collection
    name `transactions_{dataSource}`, a sync timestamp, the upserted
    row count. Computed as an aggregation (map-side combinable), not a
    driver-side counter.
    """
    log = batch.groupBy("data_source").agg(
        F.count(F.lit(1)).alias("records_uploaded")
    ).select(
        F.concat(F.lit("transactions_"), F.col("data_source")).alias(
            "collection_name"
        ),
        F.current_timestamp().alias("sync_timestamp"),
        F.col("records_uploaded").cast("long").alias("records_uploaded"),
    )
    log.write.mode("append").parquet(sync_log_path)
    return spark.read.schema(SYNC_LOG_SCHEMA).parquet(sync_log_path)
