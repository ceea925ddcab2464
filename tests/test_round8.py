"""Unit tests for the round-8 operators: nearest-centroid assignment
(operators/kmeans.py) and the squared-L2 vector fold. The round-8
QUERIES are covered by the registry-driven oracle test
(tests/test_oracle.py); these pin the operator semantics the oracle
comparison can't see — tie-breaks, degenerate-input raises, and the
refine lane's Lloyd-invariant check."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from babylon_data_loader_spark.operators.kmeans import assign_clusters


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>"
    )


def _cents(spark, rows):
    return spark.createDataFrame(
        rows, "cid LONG, centroid ARRAY<FLOAT>"
    )


def test_assign_nearest_and_tiebreak(spark):
    vecs = _vecs(
        spark,
        [
            (1, [0.0, 0.0]),  # exactly between both centroids
            (2, [10.0, 0.0]),  # nearest c1
            (3, [-10.0, 0.0]),  # nearest c0
        ],
    )
    cents = _cents(spark, [(0, [-1.0, 0.0]), (1, [1.0, 0.0])])
    got = {
        r["vec_id"]: r["cid"]
        for r in assign_clusters(vecs, cents).collect()
    }
    # equidistant -> smallest cid wins
    assert got == {1: 0, 2: 1, 3: 0}


def test_assign_distance_values(spark):
    vecs = _vecs(spark, [(1, [3.0, 4.0])])
    cents = _cents(spark, [(0, [0.0, 0.0])])
    row = assign_clusters(vecs, cents).collect()[0]
    assert row["dist"] == 25.0
    assert row["dist_e9"] == 25_000_000_000


def test_assign_raises_beyond_e9_grid(spark):
    """Squared distances past the exact e9 quantization grid must
    raise instead of silently degrading the deterministic argmin
    (r8 ADVICE)."""
    vecs = _vecs(spark, [(1, [4000.0, 0.0])])  # dist 1.6e7 > 9.0e6
    cents = _cents(spark, [(0, [0.0, 0.0])])
    with pytest.raises(Exception, match="quantization grid"):
        assign_clusters(vecs, cents).collect()


def test_assign_raises_on_empty_centroids(spark):
    """An empty codebook must RAISE, not emit N NULL-cid rows
    (array_min over an empty array is NULL — r9 advice) — INCLUDING
    under a pruned caller projection like select(id, cid), where a
    guard attached to an unselected column would be optimized away
    (r10 review); empty vecs against a real codebook stay an empty
    result."""
    vecs = _vecs(spark, [(1, [1.0, 0.0])])
    cents = _cents(spark, [(0, [0.0, 0.0])]).where("cid < 0")
    with pytest.raises(Exception, match="empty centroid table"):
        assign_clusters(vecs, cents).collect()
    with pytest.raises(Exception, match="empty centroid table"):
        # the column-pruning path: only (vec_id, cid) survive
        assign_clusters(vecs, cents).select("vec_id", "cid").collect()
    # an empty centroid table raises even under empty vecs (the
    # broadcast codebook is built before the stream side is known
    # empty — and a codebook-less assignment is an error regardless)
    with pytest.raises(Exception, match="empty centroid table"):
        assign_clusters(vecs.where("vec_id < 0"), cents).collect()
    # empty VECS against a real codebook stay an empty result
    real = _cents(spark, [(0, [0.0, 0.0])])
    assert (
        assign_clusters(vecs.where("vec_id < 0"), real).collect()
        == []
    )


def test_assign_raises_on_null_or_nan_distance(spark):
    """NULL/NaN embedding or centroid components must raise the
    named degenerate-distance error, not rank or fall into the
    grid-overflow branch (r9 advice)."""
    cents = _cents(spark, [(0, [0.0, 0.0])])
    nan_vec = _vecs(spark, [(1, [float("nan"), 0.0])])
    with pytest.raises(Exception, match="NULL/NaN squared distance"):
        assign_clusters(nan_vec, cents).collect()
    null_vec = _vecs(spark, [(1, [1.0, 0.0])]).select(
        "vec_id",
        F.when(F.col("vec_id") < 0, F.col("embedding")).alias(
            "embedding"
        ),
    )
    with pytest.raises(Exception, match="NULL/NaN squared distance"):
        assign_clusters(null_vec, cents).collect()


def test_squared_l2_matches_duckdb_fold(spark):
    import duckdb

    from babylon_data_loader_spark.functions.vectors import squared_l2

    rows = [(1, [0.125, -3.5, 7.25, 0.0078125])]
    df = _vecs(spark, rows).select(
        squared_l2(
            F.col("embedding"),
            F.array(*[F.lit(x) for x in [1.0, 2.0, -3.0, 0.5]]),
        ).alias("d")
    )
    got = df.collect()[0]["d"]
    want = duckdb.sql(
        "SELECT list_sum(list_transform(generate_series(1, 4), "
        "i -> (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)) "
        "* (CAST(a[i] AS DOUBLE) - CAST(b[i] AS DOUBLE)))) "
        "FROM (SELECT [CAST(0.125 AS FLOAT), -3.5, 7.25, "
        "0.0078125] AS a, [1.0, 2.0, -3.0, 0.5] AS b)"
    ).fetchone()[0]
    assert got == want


def test_assign_matches_bruteforce_argmin(spark):
    """Randomized cross-check: for seeded random vectors/centroids,
    the distributed assignment equals the numpy argmin under the same
    (round-9 quantized distance, cid) total order — one row per
    vector, no ties mishandled."""
    import numpy as np

    rng = np.random.default_rng(8)
    vec = rng.normal(size=(50, 6)).astype(np.float32)
    cen = rng.normal(size=(5, 6)).astype(np.float32)
    vecs = _vecs(
        spark, [(i, [float(x) for x in vec[i]]) for i in range(50)]
    )
    cents = _cents(
        spark, [(j, [float(x) for x in cen[j]]) for j in range(5)]
    )
    got = {
        r["vec_id"]: r["cid"]
        for r in assign_clusters(vecs, cents).collect()
    }
    assert len(got) == 50
    v64 = vec.astype(np.float64)
    c64 = cen.astype(np.float64)
    for i in range(50):
        d = np.round(((v64[i] - c64) ** 2).sum(axis=1), 9)
        keys = sorted(
            (int(round(d[j] * 1e9)), j) for j in range(5)
        )
        assert got[i] == keys[0][1], (i, keys[:2], got[i])


def test_refine_query_raises_on_fabricated_increase(spark):
    """The self-certifying check still fires after the r11
    oracle-backing rewrite: wrap det_ann.int_assign so each successive
    assignment reports inflated distances (×100 per iteration) and
    assert the query trips its proven quantized-descent bound.

    The fit lives in the at-rest Lloyd model store since r14, so the
    store is cleared first (a warm store would skip the patched fit
    entirely) and again after (the fabricated fit WRITES a poisoned
    model before the query-side bound check fires — exactly the
    corruption the re-check-on-read defends against — and it must
    not leak into later real runs)."""
    import glob
    import shutil

    import babylon_data_loader_spark.operators.det_ann as da
    from babylon_data_loader_spark.operators.index_store import (
        warehouse_dir,
    )
    from babylon_data_loader_spark.queries.round8 import (
        q_kmeans_refine,
    )
    from pyspark.sql import functions as F

    def _clear_kmr_stores():
        for d in glob.glob(
            os.path.join(
                warehouse_dir(spark), "idx_detlloyd_*_kmr_*"
            )
        ):
            shutil.rmtree(d, ignore_errors=True)

    real = da.int_assign
    calls = {"n": 0}

    def inflating(df, qcol, codebook):
        calls["n"] += 1
        return real(df, qcol, codebook).withColumn(
            "dist", F.col("dist") * F.lit(100 ** calls["n"])
        )

    _clear_kmr_stores()
    da.int_assign = inflating
    try:
        with pytest.raises(AssertionError, match="descent bound"):
            q_kmeans_refine.__wrapped__(
                spark, "/root/testdata/sf0.001"
            )
    finally:
        da.int_assign = real
        _clear_kmr_stores()


def test_double_array_lit_bit_identity(spark):
    """The one-expression ARRAY<DOUBLE> literal must be bit-identical
    to the element-wise F.lit form (it replaced that form in the ANN
    lanes for plan-build cost — see PERF_NOTES r11): repr round-trip
    across awkward doubles incl. max-double and subnormals, empty
    arrays typed, non-finite values still usable via the fallback."""
    import math
    import struct

    from pyspark.sql import functions as F

    from babylon_data_loader_spark.functions.vectors import (
        double_array_lit,
    )

    vals = [
        0.1,
        -1.5e-30,
        math.pi,
        2.0,
        float.fromhex("0x1.fffffffffffffp+1023"),  # max double
        5e-324,  # min subnormal
        -0.0,
    ]
    row = (
        spark.range(1)
        .select(
            double_array_lit(vals).alias("a"),
            F.array(*[F.lit(v) for v in vals]).alias("b"),
        )
        .first()
    )
    pack = lambda xs: [struct.pack(">d", x) for x in xs]  # noqa: E731
    assert pack(row["a"]) == pack(row["b"]) == pack(vals)

    empty = spark.range(1).select(double_array_lit([]).alias("e"))
    assert empty.schema["e"].dataType.simpleString() == "array<double>"
    assert list(empty.first()["e"]) == []

    nf = (
        spark.range(1)
        .select(
            double_array_lit([1.0, float("inf"), float("nan")]).alias(
                "v"
            )
        )
        .first()["v"]
    )
    assert nf[0] == 1.0 and math.isinf(nf[1]) and math.isnan(nf[2])

    # production embedding widths: the single-expression form must
    # stay parseable and exact at 1024 dims (the SQL string is ~25 KB
    # — one parse per plan, amortized at any scale)
    import random

    rng = random.Random(8111)
    big = [
        rng.uniform(-1, 1) * 10 ** rng.randint(-12, 12)
        for _ in range(1024)
    ]
    got = (
        spark.range(1)
        .select(double_array_lit(big).alias("g"))
        .first()["g"]
    )
    assert pack(got) == pack(big)
