"""Product quantization (PQ) — compressed ANN codes for 100 TB-scale
embedding tables.

The float ANN strategy next to sign-LSH (operators/similarity.py),
attacking a different bottleneck: the BYTES. At 100 TB an fp32
embedding column dominates storage and scan I/O; PQ stores each vector as `m` small codebook indices (here m bytes
against 4·d float bytes — 32× for d=64, m=8) and answers distance
queries from the codes alone:

- **fit**: split the d dims into `m` contiguous subspaces; Lloyd's
  k-means runs over ALL subspaces simultaneously — one assignment
  projection (the same expression pq_encode uses) plus one
  map-side-combinable (position, code) mean per iteration, so
  training is 1 shuffle per iteration regardless of m. Deterministic:
  init is the ksub lowest-id vectors' slices, fixed iteration count,
  no RNG. Codebooks are O(m·ksub·d/m) driver metadata.
- **encode**: per subspace, argmin over ksub squared-L2 distances on
  the slice, as an Arrow-batched pandas UDF — the (batch, m, dsub) ×
  (m, ksub, dsub) distance tensor is one numpy einsum-shaped op per
  batch, no shuffle, no per-row Python. (An all-JVM formulation with
  m·ksub `aggregate`/`zip_with` folds works but costs ~10 s of
  Catalyst compile per plan at m·ksub=128 — expression-count, not
  data; the vectorized kernel is also what scales.) Codes become an
  `array<int>` column you store INSTEAD of (or beside) the raw
  vectors.
- **search (ADC)**: the query builds an m×ksub lookup table
  driver-side (O(m·ksub·d/m) — metadata, not data); per-row distance
  is m literal-array lookups summed in one projection, then
  TakeOrdered. The scan reads ONLY the codes column — at rest this is
  the difference between scanning 100 TB of floats and ~3 TB of
  codes. Optional exact re-rank joins the raw vectors back for just
  the top candidates (fetch-on-demand, the FAISS refine pattern).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.vectors import (
    cosine,
    double_array_lit,
)


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 2,
) -> list[list[list[float]]]:
    """Train `m` per-subspace codebooks of `ksub` centroids each over
    the ``embedding`` column.

    All subspaces train together: each Lloyd iteration is ONE
    assignment projection (m·ksub fold expressions, JVM-side) and ONE
    aggregation keyed by (dimension position, assigned code) — the
    shuffle carries d·ksub partial means, independent of row count.
    Deterministic: init is the ksub lowest-id vectors' slices, fixed
    iteration count, ties to the lowest code. The input dimension
    must divide evenly by `m`.
    """
    d = len(emb.select("embedding").first()[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    seed_rows = emb.orderBy("vec_id").limit(ksub).select("embedding").collect()
    books: list[list[list[float]]] = [
        [
            [float(x) for x in r[0][i * dsub : (i + 1) * dsub]]
            for r in seed_rows
        ]
        for i in range(m)
    ]
    for _ in range(n_iters):
        coded = pq_encode(emb, books, code_col="_code")
        means = (
            coded.select(
                "_code", F.posexplode(F.col("embedding")).alias("pos", "v")
            )
            .withColumn(
                "code",
                F.element_at(
                    F.col("_code"),
                    (F.floor(F.col("pos") / dsub) + 1).cast("int"),
                ),
            )
            .groupBy("pos", "code")
            .agg(F.avg(F.col("v").cast("double")).alias("mval"))
            .collect()  # d·ksub rows — codebook metadata, not data
        )
        new: dict[tuple[int, int, int], float] = {}
        for r in means:
            sub, off = divmod(int(r["pos"]), dsub)
            new[(sub, int(r["code"]), off)] = float(r["mval"])
        books = [
            [
                [
                    new.get((i, c, j), books[i][c][j])
                    for j in range(dsub)
                ]
                for c in range(ksub)
            ]
            for i in range(m)
        ]
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    code_col: str = "pq_code",
) -> DataFrame:
    """Add `code_col`: array<int> of length m, the per-subspace argmin
    codebook index of the ``embedding`` column. Arrow-batched
    vectorized kernel, no shuffle; numpy argmin ties go to the lowest
    index (deterministic)."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)  # m × ksub × dsub
    m, ksub, dsub = cb.shape

    @pandas_udf("array<int>")
    def _encode(vecs):
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)  # n × d
        n = x.shape[0]
        xs = x.reshape(n, m, 1, dsub)  # n × m × 1 × dsub
        # n × m × ksub squared distances; argmin over ksub
        d2 = ((xs - cb.reshape(1, m, ksub, dsub)) ** 2).sum(axis=3)
        codes = d2.argmin(axis=2).astype(np.int32)  # n × m
        return pd.Series(list(codes))

    return emb.withColumn(code_col, _encode(F.col("embedding")))


def write_pq_index(
    codes: DataFrame, path: str, codebooks: list[list[list[float]]]
) -> dict:
    """Persist the codes table (ids + m-byte codes — the 32×-smaller
    at-rest representation a 100 TB search actually scans) with the
    codebooks in the store meta. Returns the meta."""
    from babylon_data_loader_spark.operators.index_store import write_store

    return write_store(codes, path, codebooks=codebooks)


def read_pq_index(spark, path: str):
    """(codes DataFrame, codebooks) from a stored PQ index."""
    from babylon_data_loader_spark.operators.index_store import read_store

    codes, meta = read_store(spark, path)
    return codes, meta["codebooks"]


def pq_search(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    rerank: DataFrame | None = None,
) -> DataFrame:
    """Top-k ``vec_id`` by asymmetric distance (ADC) over the
    ``pq_code`` column.

    `rerank`: optionally pass the raw-vector table — the top
    `4*k` ADC candidates (ids only) are joined back and
    re-ranked by exact cosine, trading one broadcast join for
    near-exact recall while the SCAN still reads only codes.
    """
    cb = np.asarray(codebooks, dtype=np.float64)  # m × ksub × dsub
    q = np.asarray(query_vec, dtype=np.float64)
    m, ksub, dsub = cb.shape
    # m × ksub lookup table of squared L2 to each sub-centroid
    lut = ((cb - q.reshape(m, 1, dsub)) ** 2).sum(axis=2)

    lut_lit = F.array(
        *[
            double_array_lit(lut[i])
            for i in range(m)
        ]
    )
    code = F.col("pq_code")
    adc = F.round(
        sum(
            F.element_at(F.element_at(lut_lit, i + 1), code[i] + 1)
            for i in range(m)
        ),
        9,
    ).alias("adc_dist2")

    keep = [c for c in ("vec_id", "label") if c in codes.columns]
    ranked = (
        codes.select(*keep, adc)
        .orderBy(F.col("adc_dist2").asc(), F.col("vec_id").asc())
        .limit(4 * k if rerank is not None else k)
    )
    if rerank is None:
        return ranked

    qcol = double_array_lit(query_vec)
    sim = F.round(cosine(F.col("embedding"), qcol), 9).alias("sim")
    cand = F.broadcast(ranked.select("vec_id"))
    return (
        rerank.join(cand, on="vec_id")
        .select(*[c for c in ("vec_id", "label") if c in rerank.columns], sim)
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )
