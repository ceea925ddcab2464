"""UDF/UDTF surface + streaming dedup with watermark."""

from __future__ import annotations


def test_udtf_ngrams(spark):
    from babylon_data_loader_spark.functions.udfs import NGrams

    spark.udtf.register("ngrams", NGrams)
    rows = spark.sql(
        "SELECT t.doc_id, g.pos, g.gram "
        "FROM VALUES (1, 'the quick brown fox') AS t(doc_id, text), "
        "LATERAL ngrams(t.text, 2) AS g"
    ).collect()
    grams = [(r["pos"], r["gram"]) for r in rows]
    assert grams == [
        (0, "the quick"),
        (1, "quick brown"),
        (2, "brown fox"),
    ]
    # degenerate inputs: empty text, n too large, n = 0
    empty = spark.sql(
        "SELECT * FROM VALUES ('') AS t(text), LATERAL ngrams(t.text, 3)"
    ).collect()
    assert empty == []
    zero = spark.sql(
        "SELECT * FROM VALUES ('a b') AS t(text), LATERAL ngrams(t.text, 0)"
    ).collect()
    assert zero == []


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming dropDuplicates bounded by a watermark — duplicate
    event ids across micro-batches are emitted once."""
    import json

    src = tmp_path / "src"
    out = tmp_path / "out"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 1, "ts": "2024-01-01T00:00:00", "v": 1.0},
                {"event_id": 2, "ts": "2024-01-01T00:01:00", "v": 2.0},
                {"event_id": 1, "ts": "2024-01-01T00:00:30", "v": 9.0},
            ]
        )
    )

    def drain():
        stream = (
            spark.readStream.schema(
                "event_id BIGINT, ts TIMESTAMP, v DOUBLE"
            ).json(str(src))
        )
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(
            ["event_id"]
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # second batch: one repeat (dropped) + one new id (kept)
    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"event_id": 2, "ts": "2024-01-01T00:05:00", "v": 7.0},
                {"event_id": 3, "ts": "2024-01-01T00:06:00", "v": 3.0},
            ]
        )
    )
    drain()
    rows = spark.read.parquet(str(out)).collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3]  # each id exactly once across both batches


def test_streaming_drop_duplicates_within_watermark(spark, tmp_path):
    """The modern dedup API: duplicates are dropped when they arrive
    within the watermark delay of the first occurrence, WITHOUT the
    event-time column being part of the key — late re-sends of the
    same event_id collapse even though their timestamps differ."""
    from datetime import datetime

    src = tmp_path / "dupsrc"
    rows = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 5)),   # same id, later ts → dropped
        (2, datetime(2024, 1, 1, 10, 1)),
    ]
    spark.createDataFrame(rows, "event_id BIGINT, ts TIMESTAMP").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("event_id BIGINT, ts TIMESTAMP").parquet(
        str(src)
    )
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName("ddww_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id FROM ddww_sink").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2]
