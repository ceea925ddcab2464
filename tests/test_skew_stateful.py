"""Bounded-state streaming dedup under a watermark."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_dedup_watermarked(spark, tmp_path):
    """Bounded-state streaming dedup: with in-order (time-partitioned)
    arrival, dropDuplicatesWithinWatermark collapses redundant
    delivery exactly — the production shape of q_stream_dedup, which
    uses unbounded state only because the oracle demands exactness
    under arbitrary arrival order."""
    import os

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # Three in-order files: hours 0-2, each with every event delivered
    # twice (the duplicate lands in the SAME file, within watermark).
    base = 1_700_000_000_000_000  # epoch micros
    for h in range(3):
        rows = []
        for i in range(100):
            eid = h * 100 + i
            ts_us = base + h * 3_600_000_000 + i * 1_000_000
            rows.append((eid, ts_us))
        df = spark.createDataFrame(
            rows * 2, "event_id BIGINT, ts_us BIGINT"
        ).withColumn("ts_event", F.timestamp_micros(F.col("ts_us")))
        df.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    deduped = stream.withWatermark(
        "ts_event", "30 minutes"
    ).dropDuplicatesWithinWatermark(["event_id"])
    (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sunk = spark.read.parquet(out)
    assert sunk.count() == 300
    assert sunk.select("event_id").distinct().count() == 300
