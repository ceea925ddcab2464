"""Deterministic, cross-engine-exact ANN primitives.

The float ANN operators (operators/similarity.py, pq.py, kmeans.py)
depend on seeded numpy hyperplanes and float accumulation order, which
no independent SQL engine reproduces bit-for-bit — which is why their
queries carried rows-only self-certification through r10. This module
re-derives the same algorithm families from INTEGER arithmetic that
any engine evaluates identically (r10 VERDICT ask #3), and it is the
one IVF, IVF-PQ and Lloyd k-means the lanes run:

- hyperplanes: component c[p][d] = md5("tag:p:d")[:6 hex] − 2^23 — a
  centered 24-bit integer both hashlib and DuckDB ``md5()`` agree on
  (the q_weighted_sample derivation pattern). No RNG state anywhere.
- vectors: quantized to ``floor(x · 1e6)`` BIGINTs. The float multiply
  is one IEEE op and floor is exact, so both engines get the same
  integers; every downstream dot/distance/sign/argmin is then pure
  BIGINT arithmetic — no fold-order sensitivity, no ties that round
  differently. |component| < 2^24 and dims ≤ a few hundred keep every
  sum far inside BIGINT.
- sign-LSH bucket: bit p = (Σ_d c[p][d]·q[d] ≥ 0); bucket = Σ bit·2^p.
- coarse quantizer / Lloyd step: nearest centroid by exact integer
  squared-L2 with centroid-id tiebreak; refined centroids are
  FLOOR-DIV means (Σq // n), which keeps them on the same integer
  grid so the next assignment is again exact. DuckDB ``//`` floors;
  the Spark side uses the pure-integer floor-div repair
  (tests/test_floor_buckets.py discipline) so negative sums agree.

Scale notes: plane matrices and codebooks are O(planes·dim) /
O(k·dim) literals broadcast into a single projection — per-vector
work is one embarrassingly-parallel integer map, no shuffle. The
signature table is a natural at-rest store partitioned by bucket
(probe = partition-pruned IN filter); callers use
index_store.get_or_build_parquet for that, same as the float LSH.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.session import local_frame

#: quantization grid: floor(x * 1e6). Embedding components are O(1)
#: floats, so quantized values sit near ±2^20; squared-distance terms
#: near 2^44; 64-dim sums near 2^50 — exact in BIGINT with orders of
#: magnitude to spare (design bound: dim ≤ 8192 still fits).
QUANT = 1_000_000


def det_plane(tag: str, p: int, dim: int) -> list[int]:
    """Hyperplane p: centered 24-bit ints from md5("tag:p:d")."""
    return [
        int(
            hashlib.md5(f"{tag}:{p}:{d}".encode()).hexdigest()[:6], 16
        )
        - (1 << 23)
        for d in range(dim)
    ]


def det_planes(tag: str, n_planes: int, dim: int) -> list[list[int]]:
    return [det_plane(tag, p, dim) for p in range(n_planes)]


def quantize_vec(col: Column) -> Column:
    """ARRAY<FLOAT> → ARRAY<BIGINT> on the 1e6 grid (exact both
    engines: one IEEE multiply + exact floor)."""
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * F.lit(QUANT)).cast(
            "long"
        ),
    )


def _long_array_sql(row: list[int]) -> str:
    return "array(" + ",".join(f"{int(c)}L" for c in row) + ")"


def _nested_lit(mat: list[list[int]]) -> Column:
    """Literal ARRAY<ARRAY<BIGINT>> for a plane matrix / codebook —
    one column the higher-order functions LOOP over at runtime, so
    codegen emits the inner fold ONCE instead of unrolling it per
    plane/centroid. Built through ONE F.expr parse instead of k·dim
    F.lit() calls: profiling the r11 Lloyd loop showed ~1 s of plan
    BUILD per iteration that was pure py4j round-trips constructing
    512 literal Columns — driver-side constant overhead that would
    repeat per re-plan. The SQL text parses JVM-side in one call and
    folds to the same literal."""
    return F.expr(
        "array(" + ",".join(_long_array_sql(r) for r in mat) + ")"
    )


def sign_bucket(qcol: Column, planes: list[list[int]]) -> Column:
    """Sign-LSH bucket id over a quantized vector: bit p set when the
    exact integer dot with plane p is ≥ 0. One runtime loop over the
    nested plane literal; bit weights ride a zip_with against the
    power array (p is the ARRAY INDEX, so bit order matches the
    per-plane enumeration exactly)."""
    bits = F.transform(
        _nested_lit(planes),
        lambda pl: F.when(
            F.aggregate(
                F.zip_with(qcol, pl, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    powers = F.expr(
        _long_array_sql([1 << p for p in range(len(planes))])
    )
    return F.aggregate(
        F.zip_with(bits, powers, lambda b, w: b * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def py_sign_bucket(vec, planes: list[list[int]]) -> int:
    """Driver-side twin of ``sign_bucket(quantize_vec(col))`` for a
    single collected vector — bit-exact by construction: FLOAT→DOUBLE
    widening is exact (py4j hands back the same double the JVM cast
    produces), ``x * QUANT`` is the identical IEEE double multiply,
    floor of a finite double is exact in both, and the dot/threshold
    is arbitrary-precision integer arithmetic whose JVM-long twin
    cannot overflow (|q|≤~2e6 · |plane|<2^23 · dim≤1024 < 2^63).
    Lets probe lanes derive an anchor's bucket from its collected
    embedding instead of paying a join of the corpus against the
    signature store per run (r15; pinned store-vs-python by
    tests/test_det_ann.py)."""
    import math

    # Loud divergence guards (r15 ADVICE): the Spark twin null-pads a
    # vec/plane length mismatch via zip_with and routes a null element
    # to the otherwise(0) branch — python zip would silently TRUNCATE
    # and float(None) would raise a confusing TypeError. A wrong
    # bucket is a silent wrong answer; make both cases hard errors.
    if planes and len(vec) != len(planes[0]):
        raise ValueError(
            f"py_sign_bucket: vec dim {len(vec)} != plane dim "
            f"{len(planes[0])}"
        )
    if any(x is None for x in vec):
        raise ValueError("py_sign_bucket: null embedding element")
    q = [math.floor(float(x) * QUANT) for x in vec]
    out = 0
    for p, plane in enumerate(planes):
        if sum(a * c for a, c in zip(q, plane)) >= 0:
            out |= 1 << p
    return out


def hamming_ball(bucket: int, n_planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of
    ``bucket`` — the multi-probe list (driver-side: O(planes^radius)
    ints, metadata-scale)."""
    out = {bucket}
    frontier = {bucket}
    for _ in range(radius):
        frontier = {
            b ^ (1 << p) for b in frontier for p in range(n_planes)
        }
        out |= frontier
    return sorted(out)


def det_signature_store(
    emb: DataFrame,
    tag: str,
    planes: list[list[int]],
) -> DataFrame:
    """The at-rest (vec_id, bucket) sign-LSH signature table for ``emb``,
    BUCKET-PARTITIONED on disk so a Hamming-ball probe
    (``.where(bucket.isin(ball))``) is a partition-pruned read — at
    100 TB the probe lists ~|ball| directories instead of scanning
    2^planes buckets. Content-fingerprint keyed and shared by every
    det-ANN consumer (q_rerank_ann, q_knn_lsh): one build per dataset
    version, probes thereafter."""
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    def _build() -> DataFrame:
        return emb.select(
            "vec_id",
            sign_bucket(quantize_vec(F.col("embedding")), planes).alias(
                "bucket"
            ),
        )

    return get_or_build_parquet(
        emb,
        "detsig",
        # 'b' = bucket-partitioned layout (r12): params must change
        # with layout so an unpartitioned r11 'p8' store is never
        # mistaken for this one
        f"{tag}_p{len(planes)}b",
        _build,
        partition_by=("bucket",),
    )


def int_assign_expr(
    qcol: str, codebook: list[tuple[int, list[int]]]
) -> Column:
    """Nearest-centroid assignment as a single struct(dist, cid)
    expression — the building block :func:`int_assign` wraps. Exposed
    separately so multi-codebook consumers (the Lloyd trajectory pass
    in q_kmeans_refine) can put SEVERAL assignments in ONE flat
    projection: chaining whole int_assign projections nests giant
    fold trees that Catalyst re-analyzes per layer (measured 21 s
    first-run / 5.5 s warm for 3 chained vs 1.5 s / 0.9 s flat at
    sf0.1)."""
    cids = [cid for cid, _ in codebook]
    dists = F.transform(
        _nested_lit([c for _, c in codebook]),
        lambda c: F.aggregate(
            F.zip_with(
                F.col(qcol), c, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return F.array_min(
        F.zip_with(
            dists,
            F.expr(_long_array_sql(cids)),
            lambda d, i: F.struct(
                d.alias("dist"), i.alias("cid")
            ),
        )
    )


def int_assign(
    df: DataFrame, qcol: str, codebook: list[tuple[int, list[int]]]
) -> DataFrame:
    """Nearest-centroid assignment by exact integer distance, lowest
    centroid id on ties: adds (cid, dist) columns. The codebook is a
    broadcast nested-array literal (k·dim ints) the distance fold
    LOOPS over at runtime — zero-shuffle per-vector work (the
    kmeans.py assignment shape) and codebook-size-independent codegen
    (the r11 unrolled form spent seconds compiling per Lloyd
    iteration). array_min over (dist, cid) structs keeps the exact
    integer tiebreak: lowest cid wins equal distances."""
    best = int_assign_expr(qcol, codebook)
    return df.withColumn("_best", best).select(
        "*",
        F.col("_best.cid").alias("cid"),
        F.col("_best.dist").alias("dist"),
    ).drop("_best")


def int_subspace_codes(
    qcol: Column, subbooks: list[list[list[int]]]
) -> Column:
    """PQ encode on the integer grid: ARRAY<BIGINT> of per-subspace
    nearest sub-centroid ids (exact BIGINT squared-L2, lowest id on
    ties). ``subbooks[s][j]`` is sub-centroid j of subspace s; the
    subspace width is inferred from the book. All m assignments live
    in ONE expression so callers keep a single flat projection (the
    int_assign_expr chaining lesson)."""
    subdim = len(subbooks[0][0])
    ksub = len(subbooks[0])
    ids = F.expr(_long_array_sql(list(range(ksub))))

    def _dist_to(sl: Column):
        # single-parameter lambda: a 2-param lambda would make
        # F.transform pass (element, INDEX) and bind the slice to the
        # integer index
        return lambda c: F.aggregate(
            F.zip_with(sl, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    codes = []
    for s, book in enumerate(subbooks):
        sl = F.slice(qcol, s * subdim + 1, subdim)
        dists = F.transform(_nested_lit(book), _dist_to(sl))
        best = F.array_min(
            F.zip_with(
                dists,
                ids,
                lambda d, i: F.struct(
                    d.alias("dist"), i.alias("cid")
                ),
            )
        )
        codes.append(best.getField("cid"))
    return F.array(*codes)


def residual_col(
    qcol: Column,
    cid_col: Column,
    codebook: list[tuple[int, list[int]]],
) -> Column:
    """q − centroid[cid] as ARRAY<BIGINT> (the IVF-PQ residual):
    centroid lookup is an element_at into the broadcast nested
    codebook literal, so cids must be contiguous from 0 (sampled-seed
    codebooks are)."""
    cids = [cid for cid, _ in codebook]
    if cids != list(range(len(cids))):
        raise ValueError(
            "residual_col requires contiguous cids 0..k-1, got "
            f"{cids[:5]}..."
        )
    mats = _nested_lit([c for _, c in codebook])
    return F.zip_with(
        qcol,
        F.element_at(mats, (cid_col + 1).cast("integer")),
        lambda a, b: a - b,
    )


def adc_distance(code_col: Column, lut: list[list[int]]) -> Column:
    """Asymmetric-distance lookup: Σ_s lut[s][code[s]] as one BIGINT
    fold over the code array against a literal per-subspace lookup
    table (the PQ/ADC scan shape: distance estimation reads only the
    m-byte codes, never the vectors)."""
    return F.aggregate(
        F.zip_with(
            code_col,
            _nested_lit(lut),
            lambda c, l: F.element_at(
                l, (c + 1).cast("integer")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def adc_distance_per_list(
    code_col: Column,
    list_index_col: Column,
    lut3: list[list[list[int]]],
) -> Column:
    """IVF-PQ ADC: the residual LUT depends on which coarse list the
    candidate sits in, so ``lut3[l][s][j]`` stacks one per-subspace
    LUT per PROBED list and ``list_index_col`` (1-based) picks the
    row's slab before the same Σ_s lookup fold as
    :func:`adc_distance`. nprobe·m·ksub ints — literal scale."""
    lit3 = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_long_array_sql(r) for r in slab) + ")"
            for slab in lut3
        )
        + ")"
    )
    per_list = F.element_at(lit3, list_index_col.cast("integer"))
    return F.aggregate(
        F.zip_with(
            code_col,
            per_list,
            lambda c, l: F.element_at(
                l, (c + 1).cast("integer")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def det_assigned_store(
    emb: DataFrame,
    tag: str,
    codebook: list[tuple[int, list[int]]],
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The at-rest IVF-Flat index: every vector stored WITH its
    quantization and nearest-centroid assignment,
    (vec_id, *extra_cols, embedding, q, cid, dist), PARTITIONED BY cid — a
    probe of ``nprobe`` lists is a partition-pruned read of
    nprobe/k-ths of the table, and no consumer re-pays the
    quantize + k·dim assignment fold (the fold's giant expression
    was ~2 s of q_ivf_nprobe_curve's plan construction per run, r13
    VERDICT ask #2). Keyed by (content fingerprint, codebook
    digest): a different codebook — retrained, different k — gets
    its own store; regenerated data sweeps the old one. At 100 TB it
    is the cluster-partitioned layout the docstrings of the IVF lanes
    describe."""
    import json

    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    # The digest folds in the DERIVATION columns, not just the
    # codebook: two callers sharing a tag but deriving from different
    # extra columns must get distinct stores — the silent-aliasing
    # class the r13 advisor flagged on stored_norm_tokens. The fixed
    # id/vec column names stay in it so the key is unchanged.
    # Old-format dirs become dead-data when the driver regenerates
    # the tables and are swept then.
    key = hashlib.md5(
        json.dumps(
            [codebook, "vec_id", "embedding", list(extra_cols)],
            separators=(",", ":"),
        ).encode()
    ).hexdigest()[:10]

    def _build() -> DataFrame:
        qdf = emb.select(
            "vec_id",
            *extra_cols,
            "embedding",
            quantize_vec(F.col("embedding")).alias("q"),
        )
        return int_assign(qdf, "q", codebook)

    return get_or_build_parquet(
        emb,
        "detasg",
        f"{tag}_{key}",
        _build,
        partition_by=("cid",),
    )


def int_lloyd_trajectory_store(
    emb: DataFrame,
    tag: str,
    k: int,
    n_iters: int,
    dim: int,
) -> DataFrame:
    """The TRAINED integer-Lloyd model as a tiny at-rest table: one
    row per iteration with (iter, inertia, n_shifted, codebook),
    where codebook is the ARRAY<STRUCT<cid, cent>> in force AT that
    iteration (iter 1 = the sampled-seed init). k-means training is
    index construction — train-once/probe-many is the whole point of
    IVF — so the fit's full-corpus passes (init collect, n_iters−2
    update passes, one flat multi-codebook trajectory pass; the
    q_kmeans_refine economics) run once per dataset version and
    every later consumer reads k·dim·n_iters integers (r13 VERDICT
    ask #2: the un-stored fit was the one ANN family still re-fit
    per lane). Same integer semantics as the oracle-checked lanes:
    floor-div centroid updates, empty clusters drop out, exact
    BIGINT inertia, shift counts between consecutive assignments.
    n_shifted at iter 1 is N (every vector newly assigned)."""
    from babylon_data_loader_spark.functions.cache import (
        persist_tracked,
    )
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    if n_iters < 2:
        raise ValueError("n_iters must be >= 2")

    def _build() -> DataFrame:
        from pyspark.sql.types import (
            ArrayType,
            LongType,
            StructField,
            StructType,
        )

        spark = emb.sparkSession
        qdf = persist_tracked(
            emb.select("vec_id", quantize_vec(F.col("embedding")).alias("q"))
        )
        codebooks = [
            sorted(
                (int(r["vec_id"]), [int(x) for x in r["q"]])
                for r in qdf.where(F.col("vec_id") < k).collect()
            )
        ]
        dim_sums = [
            F.sum(F.element_at("q", d + 1)).alias(f"s{d}")
            for d in range(dim)
        ]
        inertia: dict[int, int] = {}
        for it in range(1, n_iters):
            sums = (
                int_assign(qdf, "q", codebooks[-1])
                .groupBy("cid")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("dist").alias("in_part"),
                    *dim_sums,
                )
                .collect()
            )
            inertia[it] = sum(int(r["in_part"]) for r in sums)
            codebooks.append(
                sorted(
                    (
                        int(r["cid"]),
                        [
                            int(r[f"s{d}"]) // int(r["n"])
                            for d in range(dim)
                        ],
                    )
                    for r in sums
                )
            )
        traj = qdf.select(
            *[
                int_assign_expr("q", cb).alias(f"b{it}")
                for it, cb in enumerate(codebooks, start=1)
            ]
        )
        shift_aggs = [
            F.sum(
                F.when(
                    F.col(f"b{a}.cid") != F.col(f"b{a + 1}.cid"), 1
                ).otherwise(0)
            ).alias(f"sh{a}")
            for a in range(1, n_iters)
        ]
        fin = traj.agg(
            F.count(F.lit(1)).alias("ntot"),
            F.sum(f"b{n_iters}.dist").alias("in_last"),
            *shift_aggs,
        ).first()
        inertia[n_iters] = int(fin["in_last"])
        shifted = {1: int(fin["ntot"])}
        for a in range(1, n_iters):
            shifted[a + 1] = int(fin[f"sh{a}"])
        schema = StructType(
            [
                StructField("iter", LongType(), False),
                StructField("inertia", LongType(), False),
                StructField("n_shifted", LongType(), False),
                # Nullable struct fields: local_frame cannot carry NOT
                # NULL fields of a struct that holds an array.
                StructField(
                    "codebook",
                    ArrayType(
                        StructType(
                            [
                                StructField("cid", LongType()),
                                StructField(
                                    "cent", ArrayType(LongType(), False)
                                ),
                            ]
                        )
                    ),
                    False,
                ),
            ]
        )
        rows = [
            (
                it,
                inertia[it],
                shifted[it],
                [
                    {"cid": cid, "cent": cent}
                    for cid, cent in codebooks[it - 1]
                ],
            )
            for it in range(1, n_iters + 1)
        ]
        return local_frame(spark, rows, schema)

    # Params carry the full derivation spec (dim and the source
    # columns, not just k/iters): same aliasing discipline as
    # det_assigned_store — a shared tag must never serve a model of a
    # different dimensionality.
    return get_or_build_parquet(
        emb,
        "detlloyd",
        f"{tag}_k{k}i{n_iters}d{dim}_vec_id_embedding",
        _build,
    )


# --------------------------------------------------------------------------
# DuckDB twins: SQL snippet builders the query oracles compose. The
# SQL derives planes/quantization from the SAME md5/floor spec, so an
# oracle run is an independent recomputation, not a constant echo.
# --------------------------------------------------------------------------

#: ARRAY<FLOAT> expr → quantized BIGINT list
def sql_quant(expr: str) -> str:
    return (
        f"list_transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE) "
        f"* {QUANT}) AS BIGINT))"
    )


def sql_planes_cte(tag: str, n_planes: int, dim: int) -> str:
    """CTE body for ``planes(p, c)``: one row per hyperplane with its
    integer component list, md5-derived exactly like det_plane."""
    return f"""(
      SELECT p,
             list_transform(generate_series(0, {dim - 1}),
               d -> ('0x' || substr(md5('{tag}:' || CAST(p AS VARCHAR)
                      || ':' || CAST(d AS VARCHAR)), 1, 6))::BIGINT
                    - {1 << 23}) AS c
      FROM generate_series(0, {n_planes - 1}) AS gp(p)
    )"""


def sql_int_dot(qexpr: str, cexpr: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> {qexpr}[i] * {cexpr}[i]))"
    )


def sql_int_sq_dist(qexpr: str, cexpr: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> ({qexpr}[i] - {cexpr}[i]) * ({qexpr}[i] - {cexpr}[i])))"
    )
