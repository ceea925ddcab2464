"""Bloom-sketch semi-join reduction from public Spark primitives.

Spark's own runtime row-group filtering (InjectRuntimeFilter) builds a
Bloom filter over the small side of a join and drops fact rows before
the shuffle — but its `bloom_filter_agg` expression is internal, not
in the public function registry. This module implements the same
pattern with registered built-ins only, so the operator works on any
stock Spark:

- **build**: each small-side key sets k bit positions
  (`pmod(xxhash64(key, seed_i), n_bits)`); the DISTINCT positions are
  collected — a set bounded by `n_bits` (a few hundred KB), never by
  the key count, which is what makes the build scale-safe at 100 TB —
  and packed into an `array<long>` bitmap.
- **probe**: the bitmap rides into the fact scan as a plain array
  literal; membership is `getbit(element_at(bitmap, word), bit)` for
  every seed — whole-stage-codegen'd JVM expressions, no UDF.

False positives pass the prefilter and are removed by the real join,
so any query using this operator stays EXACT; the sketch only shrinks
the rows that pay the shuffle. With k=2 and n_bits=2^18, ~3k keys give
a false-positive rate under 0.1%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.session import local_frame

_SEEDS = (0, 7)  # k = 2 hash functions derived from seeded xxhash64

#: bits in bloom_prefilter's sketch of the small side's keys
PREFILTER_BITS = 1 << 18


def _positions(key: Column, n_bits: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_bits))
        for seed in _SEEDS
    ]


def build_key_bloom(
    small: DataFrame, key_col: str, n_bits: int = 1 << 18
) -> list[int]:
    """Signed-int64 word array (len n_bits/64) with one bit set per
    (key, seed) hash. Bits are OR-packed into words EXECUTOR-side
    (partial bit_or combines map-side), so the driver collects at most
    n_bits/64 (word, mask) rows — 4096 for the default sketch —
    regardless of key cardinality."""
    n_words = (n_bits + 63) // 64
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_bits))
    ).alias("b")
    packed = (
        small.select(pos)
        .select(
            (F.col("b") / 64).cast("int").alias("w"),
            # F.shiftleft only takes a literal shift; the SQL form
            # accepts a column
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(b % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("mask"))
        .collect()
    )
    words = [0] * n_words
    for row in packed:
        words[row["w"]] = row["mask"]
    return words


def might_contain(
    bitmap: Column, key: Column, n_bits: int
) -> Column:
    """True iff every seeded hash bit of `key` is set in `bitmap`
    (an array<long> column) — pure built-ins (element_at + getbit),
    codegen-friendly."""
    cond = F.lit(True)
    for pos in _positions(key, n_bits):
        word = F.element_at(bitmap, (pos / 64).cast("int") + 1)
        cond = cond & (F.getbit(word, pos % 64) == 1)
    return cond


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
) -> DataFrame:
    """`big` reduced to rows whose key might appear in `small` —
    the explicit semi-join-reduction operator. Follow with the real
    join to drop false positives.

    The bitmap rides as a BROADCAST one-row frame (an O(1)-build BNLJ,
    the broadcast-variable shape), NOT as an inline array literal — a
    4096-element CreateArray in the filter expression re-materializes
    the array per input row (measured 12× slower than the broadcast
    at sf0.1)."""
    n_bits = PREFILTER_BITS
    words = build_key_bloom(small, small_key, n_bits)
    spark = big.sparkSession
    bitmap = local_frame(spark, [(words,)], "_bloom_bitmap array<bigint>")
    return (
        big.crossJoin(F.broadcast(bitmap))
        .filter(
            might_contain(F.col("_bloom_bitmap"), F.col(big_key), n_bits)
        )
        .drop("_bloom_bitmap")
    )
