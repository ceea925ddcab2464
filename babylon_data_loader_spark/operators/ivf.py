"""IVF (inverted-file) approximate nearest-neighbor index.

The second ANN strategy next to sign-LSH (operators/similarity.py):
partition the vector space with k-means centroids, store each vector
in its nearest centroid's list, and search only the `nprobe` lists
closest to the query — the classic IVF-Flat layout (FAISS-style), here
expressed as DataFrame ops:

- **fit**: Lloyd iterations as pure DataFrame aggregation — assign via
  a broadcast centroid table (argmin over K distances, computed with
  `zip_with`/`aggregate` folds, JVM-side), then recompute means by
  exploding (cluster, dim_pos, value) and re-assembling with
  map-side-combinable avg. Deterministic: init picks the K
  lowest-vec_id vectors, iteration count is fixed.
- **index**: cluster_id is a materialized column — at 100 TB you
  write the table partitioned/bucketed BY cluster_id, so a probe is
  partition pruning, not a scan.
- **search**: the query's nprobe nearest centroids are found
  driver-side on a K×d numpy array (K ≪ N — this is metadata, not a
  data-plane collect), then exact cosine re-ranks only the probed
  lists.

Recall/latency knob: nprobe (like LSH's probe_hamming). Unlike LSH,
IVF adapts to the data distribution (centroids follow density), at the
cost of a training pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.vectors import (
    cosine,
    double_array_lit,
)


def _dist2_to(vec_col: str, centroid: list[float]) -> F.Column:
    """Squared L2 distance from `vec_col` to a literal centroid."""
    c = double_array_lit(centroid)
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(emb: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add `cluster_id` = argmin over centroids. The K distance
    expressions evaluate JVM-side in one projection; array_position of
    the min picks the argmin with the lowest index on ties
    (deterministic)."""
    dists = F.array(*[_dist2_to(vec_col, c) for c in centroids])
    return emb.withColumn(
        "cluster_id",
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a vector column.

    Init = the K lowest-id vectors (reproducible, no RNG). Each
    iteration is two DataFrame jobs: broadcast-assign, then mean by
    (cluster, position) — explode multiplies rows by dim, but the
    aggregation is map-side combinable so the shuffle carries only
    k·dim partial sums per partition.
    """
    seed_rows = (
        emb.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seed_rows]
    for _ in range(n_iters):
        assigned = _assign(emb, vec_col, centroids)
        means = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vec_col)).alias("pos", "v")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cluster_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid"),
            )
            .collect()  # K rows — index metadata, not data plane
        )
        new = {r["cluster_id"]: list(r["centroid"]) for r in means}
        # empty clusters keep their previous centroid
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


def ivf_index(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Stamp cluster_id. Persist/write the result partitioned by
    cluster_id so probes prune at the source."""
    return _assign(emb, vec_col, centroids)


def write_ivf_index(
    indexed: DataFrame, path: str, centroids: list[list[float]]
) -> dict:
    """Persist the index partitioned BY cluster_id — a probe then hits
    only its lists' directories (partition pruning at the source,
    asserted in tests/test_similarity.py). Centroids ride along in
    the store meta (K×d floats — index metadata, not data). Returns
    the meta."""
    from babylon_data_loader_spark.operators.index_store import write_store

    # one build-time shuffle on cluster_id so each list is ONE file,
    # not one file per upstream task (see write_lsh_index — same
    # small-files hazard; probes open one file per probed list)
    return write_store(
        indexed.repartition(F.col("cluster_id")),
        path,
        ("cluster_id",),
        centroids=centroids,
    )


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """(indexed DataFrame, centroids) from a stored IVF index."""
    from babylon_data_loader_spark.operators.index_store import read_store

    indexed, meta = read_store(spark, path)
    return indexed, meta["centroids"]


def append_ivf_index(
    new_vecs: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a stored IVF index: assign new vectors to
    the EXISTING centroids (no refit — the stored lists stay valid;
    centroid drift is a periodic-rebuild decision, not an append-time
    one) and append into the cluster partition directories. One new
    file per touched list per append; probes keep pruning unchanged.
    Search over (base ++ appended) equals search over a single build
    with the same centroids — assignment is deterministic per vector
    and ivf_search re-ranks by exact cosine within the probed lists
    (pinned by tests/test_similarity.py)."""
    from babylon_data_loader_spark.operators.index_store import (
        check_append_schema,
        read_store_meta,
    )

    first = new_vecs.select(vec_col).first()
    if first is None:
        return
    meta = read_store_meta(new_vecs.sparkSession, path)
    centroids = meta["centroids"]
    if len(first[0]) != len(centroids[0]):
        raise ValueError(
            f"append_ivf_index: new vectors have dim {len(first[0])}, "
            f"index was built for dim {len(centroids[0])}"
        )
    check_append_schema(meta, new_vecs, exclude=("cluster_id",))
    (
        _assign(new_vecs, vec_col, centroids)
        .repartition(F.col("cluster_id"))
        .write.mode("append")
        .partitionBy("cluster_id")
        .parquet(path)
    )


def ivf_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by exact cosine within the `nprobe` nearest lists.

    Centroid ranking happens on a K×d numpy array driver-side (O(K·d));
    the data plane sees only a pushable `cluster_id IN (...)` filter
    plus a TakeOrdered — no shuffle of the vector table.
    """
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(((c - q) ** 2).sum(axis=1), kind="stable")
    probes = [int(x) for x in order[:nprobe]]

    qcol = double_array_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), qcol), 9).alias("sim")
    keep = [col for col in (id_col, "label") if col in indexed.columns]
    return (
        indexed.filter(F.col("cluster_id").isin(probes))
        .select(*keep, sim)
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
