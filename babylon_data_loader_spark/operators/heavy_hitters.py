"""Exact distributed heavy hitters via Misra–Gries candidate pruning.

Problem shape: "which tokens appear in more than φ·N rows" over a
corpus whose TOKEN cardinality is enormous (100 TB of text ⇒ billions
of distinct tokens). The naive groupBy shuffles every distinct token;
this operator shuffles only O(partitions · ⌈1/φ⌉) candidate partials:

1. **Partition pass** (Arrow `mapInPandas`): each partition runs a
   Misra–Gries summary with capacity c = ⌈1/φ⌉ and emits at most c
   (token, weight) partials. MG's guarantee: any item with partition
   frequency > partition_n/c survives with weight ≥ freq − n/c, so
   summing partial weights over partitions keeps every GLOBAL
   φ-heavy item above (φ − 1/c)·N — with c = ⌈2/φ⌉ the survivor set
   is a superset of the true heavy hitters.
2. **Candidate merge**: groupBy token over the ≤ c·P partials (tiny),
   keep tokens whose summed lower-bound weight could still be heavy.
3. **Exact recount**: one more scan counts ONLY the candidate tokens
   (broadcast semi-join — no full-cardinality shuffle) and applies
   the exact threshold.

The result is EXACT (the sketch only prunes candidates, the final
filter uses true counts), so the declared query carries a plain SQL
oracle — same contract as the banded-LSH dedup path: approximation
for candidate generation, exactness at the boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    phi: float = 0.005,
) -> DataFrame:
    """Tokens occurring in > phi fraction of rows, with exact counts.

    `items` is a one-column-of-interest DataFrame (one row per item
    occurrence). Returns (item, n) for every item with n > phi·N,
    exactly. The MG capacity is 2/phi, so no true heavy hitter can be
    pruned before the exact recount.
    """
    cap = max(1, int(2 / phi))
    # Partial schema derives the item column's type from the input —
    # BIGINT ids summarize as correctly as STRING tokens; hardcoding
    # STRING would silently coerce (or fail Arrow conversion on)
    # non-string keys.
    from pyspark.sql.types import LongType, StructField, StructType

    item_field = items.schema[item_col]
    partial_schema = StructType(
        [
            StructField(item_col, item_field.dataType, True),
            StructField("w", LongType(), True),
        ]
    )

    def mg_partials(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for v in pdf[item_col]:
                if pd.isna(v):  # catches None and float NaN keys
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    # decrement-all step, dropping zeroed entries
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame(
                {item_col: list(counters), "w": list(counters.values())}
            )

    partials = items.select(item_col).mapInPandas(
        mg_partials, schema=partial_schema
    )
    # ≤ cap·partitions rows: the only shuffle in the pipeline.
    candidates = (
        partials.groupBy(item_col)
        .agg(F.sum("w").alias("w"))
        .select(item_col)
    )
    total = items.count()
    threshold = int(phi * total)
    exact = (
        items.join(F.broadcast(candidates), on=item_col, how="inner")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
    )
    return exact
