"""Driver-visible watermarked windowed aggregation: the streaming
windows operator (streaming/windows.py::tumbling_counts) run through a
real `readStream` file source with an exact-match batch oracle.

Shape:

    events table → staged as several parquet chunks
      → readStream (maxFilesPerTrigger ⇒ several micro-batches)
      → withWatermark(90 min) → tumbling 1-hour window aggregate
      → writeStream outputMode('append') to a parquet sink
      → Trigger.AvailableNow drain

In append mode a window is emitted exactly once, when the watermark
passes its end — so the sink's final contents are the deterministic
set of windows whose end ≤ final watermark = max(event time) − 90 min
(Spark tracks event time in milliseconds, hence the ms flooring in
the oracle). Windows inside the final watermark horizon are withheld
state and never reach the sink; the oracle applies the same cutoff.
The 90-minute delay is chosen to land mid-window (window bounds are
whole hours), so `<` vs `≤` at the eviction boundary cannot matter.

This is the streaming-shaped seam of the reference (the
unprocessed-dir sweep, datalake/client.go:45 + archival
datalake/datalake.go:274-295) upgraded to event-time semantics the
reference lacks (SURVEY.md §2.7 streaming row).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.schemas import event_ts_us, load_table

# Hourly tumbling windows over clean events, restricted to windows
# fully below the final watermark (ms-floored max event time − 90 min).
_ORACLE = """
WITH clean AS (
  SELECT epoch_us(ts) AS ts_us, event_type, value
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
), wm AS (
  SELECT (MAX(ts_us) // 1000) - 5400000 AS wm_ms FROM clean
)
SELECT (c.ts_us // 3600000000) * 3600000000 AS window_start_us,
       (c.ts_us // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
       c.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(c.value AS DECIMAL(20,2))) AS DOUBLE) AS total_value
FROM clean c, wm
WHERE (((c.ts_us // 3600000000) * 3600000000 + 3600000000) // 1000)
      <= wm.wm_ms
GROUP BY 1, 2, 3
"""


def _stage_time_ordered(staged: DataFrame, work: str, src_dir: str) -> None:
    """Write `staged` as 3 parquet files in EVENT-TIME (`ts_ts`) ORDER with
    forced-increasing mtimes — the file source replays by modification
    time. Random file assignment would put most rows BEHIND the
    watermark of earlier batches, and append mode drops late rows —
    the result would depend on which file each row landed in.
    Time-ordered arrival is also the realistic shape: log shippers
    deliver roughly in order, and the watermark exists to absorb
    jitter, not a full-range shuffle of history. The split points need
    not be exact terciles for correctness (any time-ordered split
    yields the same final state), so approximate percentiles on a
    single pass beat a global sort."""
    q33, q66 = staged.select(
        F.percentile_approx("ts_ts", [1.0 / 3, 2.0 / 3], 10_000).alias("q")
    ).collect()[0]["q"]
    bucket = (
        F.when(F.col("ts_ts") <= F.lit(q33), 1)
        .when(F.col("ts_ts") <= F.lit(q66), 2)
        .otherwise(3)
    )
    stage_dir = os.path.join(work, "staged")
    staged.withColumn("_b", bucket).repartition(1).write.partitionBy(
        "_b"
    ).parquet(stage_dir)
    os.makedirs(src_dir, exist_ok=True)
    base_mtime = 1_000_000_000  # fixed, strictly increasing per file
    # Iterate the _b= directories that actually exist: heavy timestamp
    # ties can make q33 == q66 (or max == q66), collapsing a bucket —
    # a missing directory must mean fewer replay files, not a crash.
    # Single-digit bucket ids sort correctly as strings.
    bdirs = sorted(
        d
        for d in os.listdir(stage_dir)
        if d.startswith("_b=") and os.path.isdir(os.path.join(stage_dir, d))
    )
    for i, bdir in enumerate(bdirs, start=1):
        tdir = os.path.join(stage_dir, bdir)
        part = next(
            p for p in sorted(os.listdir(tdir)) if p.endswith(".parquet")
        )
        dst = os.path.join(src_dir, f"{i:03d}.parquet")
        shutil.move(os.path.join(tdir, part), dst)
        os.utime(dst, (base_mtime + i, base_mtime + i))
    shutil.rmtree(stage_dir, ignore_errors=True)


@query("q_stream_window", oracle=_ORACLE)
def q_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts/sums over a replayed events
    stream; append-mode emission makes the sink contents equal the
    batch aggregate below the final watermark."""
    from babylon_data_loader_spark.streaming.windows import tumbling_counts

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_stream_window_{uuid.uuid4().hex[:12]}")
    src_dir = os.path.join(work, "src")
    sink_dir = os.path.join(work, "sink")

    events = load_table(spark, sf_dir, "events")
    clean = events.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    # Stage with a REAL TIMESTAMP event-time column (micro precision,
    # UTC) so the watermark/window operators see a native timestamp
    # regardless of the source encoding of `ts`.
    staged = clean.select(
        F.timestamp_micros(event_ts_us(clean)).alias("ts_ts"),
        "event_type",
        "value",
    )
    _stage_time_ordered(staged, work, src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    windowed = tumbling_counts(
        stream,
        window_duration="1 hour",
        watermark="90 minutes",
        ts_col="ts_ts",
    )

    # State partition count is fixed by shuffle.partitions at the
    # stream's FIRST batch; 32 state-store instances × 4 micro-batches
    # of a 10k-row harness run is pure per-partition overhead (each
    # store opens/commits per batch). A handful of partitions is right
    # at harness scale; a real deployment sizes this to key
    # cardinality before first start (it cannot change after).
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        (
            windowed.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

        emitted = spark.read.parquet(sink_dir)
        final = emitted.select(
            F.unix_micros(F.col("window_start")).alias("window_start_us"),
            F.unix_micros(F.col("window_end")).alias("window_end_us"),
            "event_type",
            "n",
            "total_value",
        )
        rows = final.collect()  # emitted windows only (final state)
        out_schema = final.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


# Gap-based session windows under the same delivery contract as
# q_stream_window. Session semantics are session_window's half-open
# merge rule (split when the inter-event gap is >= 30 min; the batch
# q_sessionize splits on > — equal-at-the-boundary gaps are
# measure-zero in micro-precision data but the oracle matches the
# streaming rule exactly). A session's event-time end is
# last_event + gap; append mode emits it once the watermark passes
# that end, so the final sink = sessions with end <= ms-floored
# watermark, in micros.
_SESSION_ORACLE = """
WITH clean AS (
  SELECT user_id, epoch_us(ts) AS ts_us
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), wm AS (
  SELECT ((MAX(ts_us) // 1000) - 5400000) * 1000 AS wm_us FROM clean
), g AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
              OR ts_us - lag(ts_us) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM clean
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), s AS (
  SELECT user_id, ts_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) + 1800000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s, wm
GROUP BY user_id, sid, wm_us
HAVING MAX(ts_us) + 1800000000 <= wm_us
"""


@query("q_stream_session", oracle=_SESSION_ORACLE)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session windows (30-min gap) over the replayed
    events stream (streaming/windows.py::session_counts); append-mode
    emission against the same time-ordered file delivery as
    q_stream_window."""
    from babylon_data_loader_spark.streaming.windows import session_counts

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_stream_session_{uuid.uuid4().hex[:12]}")
    src_dir = os.path.join(work, "src")
    sink_dir = os.path.join(work, "sink")

    events = load_table(spark, sf_dir, "events")
    clean = events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    staged = clean.select(
        F.timestamp_micros(event_ts_us(clean)).alias("ts_ts"), "user_id"
    )
    _stage_time_ordered(staged, work, src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    sessions = session_counts(
        stream, gap="30 minutes", watermark="90 minutes", ts_col="ts_ts"
    )

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        (
            sessions.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        emitted = spark.read.parquet(sink_dir)
        final = emitted.select(
            "user_id",
            F.unix_micros(F.col("session_start")).alias("session_start_us"),
            F.unix_micros(F.col("session_end")).alias("session_end_us"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        rows = final.collect()  # emitted sessions only (final state)
        out_schema = final.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


# Custom stateful operator (applyInPandasWithState) made
# driver-visible. Emissions are per-batch snapshots; n_events is
# strictly monotone per user, so "the row with max n_events per user"
# is the final state regardless of how files batch — no ordering or
# watermark contract needed. Values ride as integer cents
# (decimal-cast then scaled), so state arithmetic is exact and
# batch-shape-independent; the oracle is the plain per-user aggregate.
_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(20,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM events
WHERE user_id IS NOT NULL AND value IS NOT NULL
GROUP BY user_id
"""


@query("q_stream_stateful", oracle=_STATEFUL_ORACLE)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals through the custom state store
    (streaming/stateful.py::running_user_cents), replayed over several
    micro-batches; the sink's last emission per user must equal the
    batch aggregate exactly."""
    from pyspark.sql import Window

    from babylon_data_loader_spark.streaming.stateful import (
        running_user_cents,
    )

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_stream_stateful_{uuid.uuid4().hex[:12]}")
    src_dir = os.path.join(work, "src")
    sink_dir = os.path.join(work, "sink")

    events = load_table(spark, sf_dir, "events")
    staged = events.filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        "user_id",
        (F.col("value").cast("decimal(20,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    staged.repartition(3).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    totals = running_user_cents(stream)

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        (
            totals.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        emitted = spark.read.parquet(sink_dir)
        w = Window.partitionBy("user_id").orderBy(
            F.col("n_events").desc()
        )
        final = (
            emitted.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_events", "total_cents")
        )
        rows = final.collect()  # one row per user (final state)
        out_schema = final.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


# Sliding (overlapping) windows on the stream — the streaming twin of
# the batch q_sliding_window: window('2 hours', slide '1 hour'), so
# every event lands in exactly TWO windows (starts at the enclosing
# hour and the hour before). Append mode emits a window once the
# watermark passes its END (start + 2h); same ms-floored horizon as
# the tumbling lane, and the 90-minute delay again lands mid-hour so
# the eviction boundary comparison cannot matter.
_SLIDING_ORACLE = """
WITH clean AS (
  SELECT epoch_us(ts) AS ts_us, event_type, value
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
), wm AS (
  SELECT (MAX(ts_us) // 1000) - 5400000 AS wm_ms FROM clean
), ex AS (
  SELECT c.event_type, c.value,
         (c.ts_us // 3600000000) * 3600000000 - s.offs
           AS window_start_us
  FROM clean c, (VALUES (CAST(0 AS BIGINT)),
                        (CAST(3600000000 AS BIGINT))) s(offs)
)
SELECT e.window_start_us, e.event_type,
       CAST(SUM(CAST(e.value AS DECIMAL(20,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_value
FROM ex e, wm
WHERE ((e.window_start_us + 7200000000) // 1000) <= wm.wm_ms
GROUP BY 1, 2
"""


@query("q_stream_sliding", oracle=_SLIDING_ORACLE)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window mean value per event type over the
    replayed events stream (streaming/windows.py::sliding_avg — 2h
    windows sliding hourly, each event in two windows). State cost is
    window_count x keys like the tumbling lane times the overlap
    factor W/S = 2; the watermark bounds it identically. Final sink =
    windows whose end cleared the final watermark — the same
    append-mode determinism argument as q_stream_window, applied to
    overlapping windows."""
    from babylon_data_loader_spark.streaming.windows import sliding_avg

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_stream_sliding_{uuid.uuid4().hex[:12]}")
    src_dir = os.path.join(work, "src")
    sink_dir = os.path.join(work, "sink")

    events = load_table(spark, sf_dir, "events")
    clean = events.filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    staged = clean.select(
        F.timestamp_micros(event_ts_us(clean)).alias("ts_ts"),
        "event_type",
        "value",
    )
    _stage_time_ordered(staged, work, src_dir)
    schema = spark.read.parquet(src_dir).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    windowed = sliding_avg(
        stream,
        window_duration="2 hours",
        slide="1 hour",
        watermark="90 minutes",
        ts_col="ts_ts",
    )

    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        (
            windowed.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        emitted = spark.read.parquet(sink_dir)
        final = emitted.select(
            F.unix_micros(F.col("window_start")).alias("window_start_us"),
            "event_type",
            # exact decimal window sum / count: single IEEE
            # division, no round(x, 9) half-way build hazard
            F.col("avg_value").alias("avg_value"),
        )
        rows = final.collect()
        out_schema = final.schema
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)
