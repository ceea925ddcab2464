"""operators/zorder.py: Morton interleave bit-exactness, quantization
edges (NULL, degenerate dimension, clamping), the locality property
that makes z-order skip files on every dimension, and the lake
integration (zorder_by writes prune on BOTH columns; mutual exclusion
with cluster_by).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from babylon_data_loader_spark.operators.zorder import (
    interleave,
    quantize,
    zorder_arrange,
    zorder_frame,
)


def test_interleave_bit_exact(spark):
    # x=0b101 (5), y=0b011 (3), 3 bits: bit i of dim d lands at
    # position i*2+d, so pos 0<-x0=1, 1<-y0=1, 2<-x1=0, 3<-y1=1,
    # 4<-x2=1, 5<-y2=0 -> 0b011011 = 27
    df = spark.createDataFrame([(5, 3)], "x LONG, y LONG")
    z = df.select(
        interleave([F.col("x"), F.col("y")], bits=3).alias("z")
    ).collect()[0]["z"]
    assert z == 0b011011


def test_interleave_rejects_bigint_overflow(spark):
    with pytest.raises(ValueError, match="exceeds a BIGINT"):
        interleave([F.lit(1)] * 4, bits=16)


def test_quantize_edges(spark):
    df = spark.createDataFrame(
        [(0.0,), (50.0,), (100.0,), (None,)], "v DOUBLE"
    )
    out = [
        r["q"]
        for r in df.select(
            quantize(F.col("v"), 0.0, 100.0, bits=4).alias("q")
        ).collect()
    ]
    assert out[0] == 0
    assert out[1] == 7  # floor(50 * 15 / 100)
    assert out[2] == 15  # top of range, clamped in range
    assert out[3] == 0  # NULL -> first cell
    # degenerate dimension: everything in cell 0
    same = df.select(
        quantize(F.col("v"), 7.0, 7.0, bits=4).alias("q")
    ).collect()
    assert all(r["q"] == 0 for r in same)


def test_zorder_frame_collision_raises(spark):
    df = spark.createDataFrame([(1, 2)], "a LONG, _z LONG")
    with pytest.raises(ValueError, match="collides"):
        zorder_frame(df, ["a"])


def test_zorder_locality_prunes_both_dimensions(spark, tmp_path):
    """The property the layout exists for: after arranging a 2-D grid
    into 8 z-ordered files, a 1/8-wide band on EITHER dimension must
    leave some files entirely outside the band's [min, max] — with a
    single-column sort that holds for the sorted column only."""
    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x LONG, y LONG")
    out = os.path.join(str(tmp_path), "zgrid")
    zorder_arrange(df, ["x", "y"], n_files=8).write.parquet(out)
    files = [
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]
    assert len(files) >= 4

    # per-file min/max of each column via the read path itself
    stats = (
        spark.read.parquet(out)
        .withColumn("_f", F.input_file_name())
        .groupBy("_f")
        .agg(
            F.min("x").alias("xmin"),
            F.max("x").alias("xmax"),
            F.min("y").alias("ymin"),
            F.max("y").alias("ymax"),
        )
        .collect()
    )
    band = (0, n // 8 - 1)  # 1/8 of the domain
    x_hit = sum(
        1 for r in stats if not (r["xmax"] < band[0] or r["xmin"] > band[1])
    )
    y_hit = sum(
        1 for r in stats if not (r["ymax"] < band[0] or r["ymin"] > band[1])
    )
    assert x_hit < len(stats), "x band overlapped every file"
    assert y_hit < len(stats), "y band overlapped every file"


def test_lake_zorder_by_prunes_both_columns(spark, tmp_path):
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    n = 40
    rows = [
        (i, "P" if i % 2 else "Q", "R" if i % 3 else "S")
        + (float(i % n), float(i // n))
        for i in range(n * n)
    ]
    df = spark.createDataFrame(
        rows, "id LONG, part STRING, region STRING, a DOUBLE, b DOUBLE"
    )
    lake = TransactionalLake(
        os.path.join(str(tmp_path), "zlake"),
        partition_col="part",
        stats_cols=["a", "b"],
        zorder_by=["a", "b"],
        cluster_files=8,
    )
    lake.merge(spark, df, key=["id"])

    def assert_prunes(handle):
        total = len(handle.read(spark).inputFiles())
        for col in ("a", "b"):
            pruned = handle.read_pruned(spark, [(col, 0.0, 3.0)])
            # correctness: pruned read equals plain filter
            assert (
                pruned.count()
                == df.where(F.col(col).between(0.0, 3.0)).count()
            )
            assert len(pruned.inputFiles()) < total, col

    assert_prunes(lake)
    # the migrated handle keeps the Morton layout and so its pruning
    migrated = lake.migrate_partitioning(spark, "region")
    assert migrated.zorder_by == ["a", "b"]
    assert_prunes(migrated)


def test_lake_zorder_cluster_by_mutually_exclusive(tmp_path):
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        TransactionalLake(
            os.path.join(str(tmp_path), "x"),
            cluster_by=["a"],
            zorder_by=["b"],
        )


def test_zorder_frame_temporal_columns(spark):
    """DATE/TIMESTAMP(_NTZ) cannot cast to double; they must get a
    LINEAR rank via their integer epoch forms (range predicates on
    time are the canonical skipping probe) instead of crashing or
    falling into the hash branch."""
    import datetime as dt

    rows = [
        (i, dt.date(2020, 1, 1 + i), dt.datetime(2020, 1, 1, i))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "id LONG, d DATE, ts TIMESTAMP_NTZ"
    )
    out = zorder_frame(df, ["d", "ts"])
    got = out.orderBy("id").collect()
    assert len(got) == 10
    # linear rank: z-values must be strictly ordered with the dates
    # (both dims increase together, so the Morton key does too)
    zs = [r["_z"] for r in got]
    assert zs == sorted(zs) and zs[0] < zs[-1]


def test_zorder_arrange_preserves_multiset(spark):
    """Arrangement-only contract: whatever the column mix (numeric,
    string, NULLs, duplicates), zorder_arrange returns exactly the
    input rows — nothing dropped, nothing duplicated, helper column
    gone."""
    rows = [
        (0, None, "a"),
        (1, 5.0, None),
        (1, 5.0, None),          # exact duplicate row
        (2, -3.5, "b"),
        (3, 1e9, ""),
        (None, 0.0, "c"),
    ]
    df = spark.createDataFrame(rows, "k LONG, v DOUBLE, s STRING")
    out = zorder_arrange(df, ["v", "s"], n_files=3)
    assert out.columns == ["k", "v", "s"]
    got = sorted(
        ((r["k"], r["v"], r["s"]) for r in out.collect()),
        key=str,
    )
    assert got == sorted(rows, key=str)
