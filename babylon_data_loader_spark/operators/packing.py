"""Sharded sequence packing: global concat-and-chunk without a
global sort.

Packing assigns each document to the fixed token-budget training
sequence where its first token lands:

    pack_id = (tokens_before_this_doc_in_order) div budget

The naive plan is a single global running-sum window — an Exchange
SinglePartition that funnels the whole corpus through one task, the
textbook scale-killer. But the running sum is associative, so it
decomposes exactly (the same trick as distributed prefix sums):

  1. range-shard by the order column (pure arithmetic on the key —
     no sampling pass, stays deterministic),
  2. per-shard token totals — one tiny aggregate, O(shards) rows to
     the driver,
  3. prefix-offset per shard, broadcast back,
  4. running sum WITHIN each shard (parallel windows) + its shard's
     offset = the exact global running sum.

Every shard computes independently; the only global object is the
O(shards) offset table. Results are bit-identical to the global
window — the declared-query oracle still checks against DuckDB's
single ordered window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from babylon_data_loader_spark.session import local_frame


def packed_ids(
    tok: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    shards: int = 32,
) -> DataFrame:
    """Add ``pack_id`` to ``tok`` (one row per item, integer
    ``order_col`` defining the packing order, ``weight_col`` its token
    count). Two passes over the weights; no single-partition stage.
    The narrow (order, weight) frame is persisted across the passes so
    upstream work (tokenization) runs once; released at the next
    query boundary (functions/cache.py)."""
    from babylon_data_loader_spark.functions.cache import persist_tracked

    tok = persist_tracked(tok)
    lo_hi = tok.agg(
        F.min(order_col).alias("lo"), F.max(order_col).alias("hi")
    ).first()
    if lo_hi["lo"] is None:
        return tok.withColumn("pack_id", F.lit(None).cast("bigint"))
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    width = max(1, (hi - lo) // shards + 1)

    def shard_of(c: Column) -> Column:
        return F.floor((c - F.lit(lo)) / F.lit(width)).cast("bigint")

    sharded = tok.withColumn("_shard", shard_of(F.col(order_col)))
    totals = (
        sharded.groupBy("_shard")
        .agg(F.sum(weight_col).cast("bigint").alias("_t"))
        .collect()  # O(shards) rows — metadata-scale, never O(rows)
    )
    offset, offsets = 0, []
    for row in sorted(totals, key=lambda r: r["_shard"]):
        offsets.append((int(row["_shard"]), offset))
        offset += int(row["_t"])
    off_df = local_frame(
        tok.sparkSession, offsets, "_shard BIGINT, _off BIGINT"
    )
    w = (
        Window.partitionBy("_shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sharded.join(F.broadcast(off_df), on="_shard")
        .withColumn(
            "_cum", F.sum(weight_col).over(w) + F.col("_off")
        )
        .withColumn(
            "pack_id",
            F.floor(
                (F.col("_cum") - F.col(weight_col)) / F.lit(budget)
            ).cast("bigint"),
        )
        .drop("_shard", "_off", "_cum")
    )
