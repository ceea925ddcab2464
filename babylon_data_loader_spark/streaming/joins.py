"""Stream-stream joins with event-time constraints.

Unlike stream-static enrichment (enrich.py), joining two STREAMS
requires buffering both sides in state — unbounded unless every join
has (a) watermarks on both inputs and (b) an event-time range in the
join condition, which together let the engine expire state. This is
the attribution-join shape: purchase within N minutes of a click.

At scale the state store is the bottleneck: the range width times the
per-key event rate bounds state size; configure the RocksDB state
store for large keyspaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Purchases joined to the click they follow within `within`:
    the same ``user_id``, event time ``ts_ts``.

    Both sides are watermarked; the join condition carries the
    event-time range, so click state older than the horizon is
    dropped instead of accumulating forever. Works identically on
    static frames (the batch twin used by tests/oracles).

    how='left' (stream-stream LEFT OUTER): a click with no purchase in
    its window is emitted with NULL purchase columns — but only once
    the engine can PROVE no match can still arrive, i.e. when the
    global watermark passes the click's window end. Until then the
    click is withheld state; clicks inside the final watermark horizon
    never reach an AvailableNow sink. The exact eviction boundary
    (strict: click evicts when its window end is strictly below the
    watermark, ms-floored) is pinned by
    tests/test_round4e.py::test_stream_left_outer_boundary and encoded
    in q_stream_left_join's oracle."""
    c = clicks.select(
        F.col("user_id").alias("c_key"),
        F.col("ts_ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_key"),
        F.col("ts_ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_key") == F.col("p_key"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within}")
        )
    )
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return c.join(p, cond, how).select(
        F.col("c_key").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )
