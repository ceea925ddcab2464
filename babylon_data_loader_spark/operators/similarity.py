"""Similarity search over embedding columns.

Two strategies:
- :func:`knn_bruteforce` — exact cosine top-k. One scan, no shuffle,
  TakeOrdered(k). Right answer, O(N·d) work; the baseline.
- :func:`knn_lsh` — random-hyperplane LSH with multi-probe. Each
  vector gets a sign-bit bucket from `n_planes` deterministic
  hyperplanes; the query probes all buckets within Hamming distance
  2, then exact cosine re-ranks the candidates. At
  100 TB: the bucket column is computed once at write time (cheap,
  scan-local), candidate selection is a pushed-down IN filter on a
  low-cardinality column (partition/bucket prunable), and the exact
  re-rank touches only candidates.

Hyperplane determinism: components are ±1 derived from md5 parities of
"plane:dim" — reproducible across runs/engines with no RNG state.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from babylon_data_loader_spark.functions.cache import persist_tracked
from babylon_data_loader_spark.functions.vectors import (
    cosine,
    double_array_lit,
)

#: banded sign-LSH of the embedding near-dup family: N_BANDS buckets
#: of N_PLANES sign bits each; a bucket holding more than
#: MAX_BUCKET_SIZE ids (None: no cap) is dropped before pairing
N_PLANES = 8
N_BANDS = 4
MAX_BUCKET_SIZE: int | None = 1000

#: the exact all-pairs baseline refuses inputs of more rows than this
MAX_EXACT_ROWS = 50_000


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane components."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
    return out


def sign_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-string bucket id: one sign bit per hyperplane."""
    bits = []
    for comps in planes:
        plane = double_array_lit(comps)
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _probe_buckets(bucket: str, hamming: int) -> list[str]:
    """All bucket ids within the given Hamming distance."""
    from itertools import combinations

    n = len(bucket)
    out = {bucket}
    for dist in range(1, hamming + 1):
        for flips in combinations(range(n), dist):
            b = list(bucket)
            for i in flips:
                b[i] = "1" if b[i] == "0" else "0"
            out.add("".join(b))
    return sorted(out)


def knn_bruteforce(
    emb: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Exact cosine top-k (excluding the query itself) of
    (vec_id, embedding) rows."""
    qvec = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("_q")
    )
    sim = F.round(cosine(F.col("embedding"), F.col("_q")), 9).alias("sim")
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", sim)
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) of (vec_id, embedding) rows.

    exact=False (default, the scale path): banded sign-LSH
    (OR-of-ANDs) — `N_BANDS` independent buckets of `N_PLANES` sign
    bits each; vectors sharing ANY band bucket become candidates, and
    exact cosine verifies. Per-bucket joins, never all-pairs. A pair at
    angle θ is a candidate with probability 1 − (1 − p^r)^b where
    p = 1 − θ/π, r = N_PLANES, b = N_BANDS: ~99% at cosine 0.95,
    vanishing for unrelated vectors.

    exact=True: all-pairs self-join — O(N²), for oracle checks and
    small N only. Guarded: raises if the input exceeds
    `MAX_EXACT_ROWS`, so the verification baseline cannot be pointed
    at a real corpus (50k rows is already a 2.5-billion-pair join).
    """
    if exact:
        n = emb.count()
        if n > MAX_EXACT_ROWS:
            raise ValueError(
                f"exact=True is the O(N²) verification baseline: input has "
                f"{n} rows > MAX_EXACT_ROWS={MAX_EXACT_ROWS}. Use the "
                f"banded LSH path (exact=False) for real corpora."
            )
        left = emb.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
        )
        right = emb.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
        )
        pairs = left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = _banded_candidates(emb)
    sim = F.round(cosine(F.col("va"), F.col("vb")), 9)
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_pairs_params(threshold: float) -> str:
    """Store params of the embedding-pair family. The threshold is
    ROUNDED to thousandths: truncating keyed two thresholds onto one
    store."""
    return (
        f"t{round(threshold * 1000)}p{N_PLANES}b{N_BANDS}"
        f"m{MAX_BUCKET_SIZE}_vec_id_embedding"
    )


def stored_embedding_pairs(
    emb: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """:func:`embedding_dup_pairs` (banded-LSH path) through the
    at-rest store: sign bucketing, candidate generation, and cosine
    verification run ONCE per dataset version, and every composition
    query — semantic dedup, pair listings, downstream cluster work —
    reads the same (id_a, id_b, sim) parquet instead of re-deriving
    the chain per query. The embedding-side twin of the text family's
    ``stored_verified_pairs`` (r6 VERDICT ask #5 pattern): keyed by
    content fingerprint + parameters; falls back to inline computation
    for frames with no file lineage."""
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    return get_or_build_parquet(
        emb,
        "emb_pairs",
        embedding_pairs_params(threshold),
        lambda: embedding_dup_pairs(emb, threshold=threshold),
    )


def stored_embedding_components(
    emb: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """(id, component) connected-component labels of the embedding
    near-dup graph through the at-rest store — the embedding-side
    twin of ``dedup.stored_doc_components`` (r16): min-label
    propagation over :func:`stored_embedding_pairs` is a pure
    function of the dataset version (component = min reachable id,
    a unique value, so stored and inline labels are bit-identical),
    but its 3-5 sequential join+aggregate iterations re-ran on every
    execution of every consumer. Keyed by content fingerprint + the
    full pair-store parameter set; no-lineage frames fall back to
    the inline computation inside ``get_or_build_parquet``."""
    from babylon_data_loader_spark.operators.graph import (
        connected_components,
    )
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )

    def build() -> DataFrame:
        pairs = stored_embedding_pairs(emb, threshold=threshold)
        return connected_components(
            emb.select(F.col("vec_id").alias("id")),
            pairs.select(
                F.col("id_a").alias("src"),
                F.col("id_b").alias("dst"),
            ),
        )

    return get_or_build_parquet(
        emb,
        "emb_comp",
        embedding_pairs_params(threshold),
        build,
    )


def _banded_candidates(emb: DataFrame) -> DataFrame:
    """Distinct candidate pairs sharing any of `N_BANDS` sign buckets
    (each from `N_PLANES` independent hyperplanes).

    Scale shape: buckets larger than `MAX_BUCKET_SIZE` are dropped
    before the self-join (a degenerate bucket — many near-identical
    embeddings, exactly what a dup-heavy corpus produces — would go
    quadratic; its members are better handled by exact/content-hash
    dedup). The self-join and the pair-level dropDuplicates carry ONLY
    ids — embedding vectors are re-attached to the deduped narrow pair
    stream afterwards, so the wide payload never rides through the
    candidate shuffle.
    """
    id_col, vec_col = "vec_id", "embedding"
    n_bands, n_planes = N_BANDS, N_PLANES
    dim = len(emb.select(vec_col).first()[0])
    # All n_bands·n_planes sign bits in ONE Arrow-vectorized kernel
    # (projection matrix product + bit packing) instead of
    # n_bands·n_planes interpreted fold expressions per row. Bucket
    # VALUES need no cross-engine float parity — they only generate
    # candidates (identical vectors project identically whatever the
    # summation order, so planted-dup recall is unaffected); the
    # verifying cosine below stays a JVM left fold to match the
    # oracle's evaluation order digit for digit.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    H = np.asarray(
        [
            _hyperplane(band * n_planes + p, dim)
            for band in range(n_bands)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )  # (n_bands·n_planes) × dim
    weights = (1 << np.arange(n_planes, dtype=np.int64)).reshape(1, 1, -1)
    nb, npl = n_bands, n_planes

    @pandas_udf("array<long>")
    def _band_buckets(vecs):
        import pandas as pd

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)  # n × dim
        bits = (x @ H.T > 0).reshape(len(x), nb, npl)
        packed = (bits * weights).sum(axis=2)  # n × n_bands int64
        return pd.Series(list(packed))

    # Ids + bucket only: the bucketed frame feeds a self-join, so keep
    # it narrow and persist it (cluster-safe, unlike localCheckpoint)
    # so the bucket computation evaluates once, not once per side.
    bucketed = (
        emb.select(
            id_col,
            F.posexplode(_band_buckets(F.col(vec_col))).alias(
                "band_idx", "bucket"
            ),
        )
    )
    # Persist BEFORE the guard: the Arrow bucket kernel then runs once
    # and feeds both the guard's oversized-bucket count and the pair
    # generation. The guard is a broadcast anti-join against the
    # tiny >cap list (see operators/buckets.py)
    # so the collect_list below has aggregation buffers bounded at
    # `MAX_BUCKET_SIZE` ids by construction; the in-row double explode
    # then emits a<b pairs with ONE band-keyed shuffle of bare ids —
    # no self-join of the bucketed frame.
    from babylon_data_loader_spark.operators.buckets import (
        drop_oversized_buckets,
    )

    bucketed = persist_tracked(bucketed)
    bucketed = drop_oversized_buckets(
        bucketed, ["band_idx", "bucket"], MAX_BUCKET_SIZE
    )
    buckets = bucketed.groupBy("band_idx", "bucket").agg(
        F.collect_list(id_col).alias("_ids")
    )
    pairs = (
        buckets.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return pairs.join(va, on="id_a").join(vb, on="id_b")


def _bucket_of(vec: list[float], planes: list[list[float]]) -> str:
    """Driver-side sign bucket of one vector (O(n_planes·d) floats —
    index metadata arithmetic, not a data-plane operation)."""
    bits = []
    for comps in planes:
        proj = sum(float(x) * c for x, c in zip(vec, comps))
        bits.append("1" if proj > 0 else "0")
    return "".join(bits)


def write_lsh_index(emb: DataFrame, path: str, n_planes: int = 8) -> dict:
    """Persist the sign-bucket index partitioned BY bucket — the
    write-time half of LSH's economics. Each vector's bucket is
    computed once here (scan-local, no shuffle beyond the partitioned
    write), and every later probe is directory-level partition
    pruning: a search touches the probed buckets' files only, never
    the full table (the contract an indexed lookup implies —
    /root/reference/apiClient/apiClient.go:188-243 reads by key, it
    does not scan). Hyperplanes are deterministic from (plane, dim),
    so the index carries only {n_planes, dim} as metadata (and a
    `fingerprint` field, always null). Returns the store meta."""
    from babylon_data_loader_spark.operators.index_store import write_store

    dim = len(emb.select("embedding").first()[0])
    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    return write_store(
        emb.withColumn("bucket", sign_bucket(F.col("embedding"), planes))
        # ONE build-time hash shuffle on bucket: without it,
        # partitionBy splits EVERY upstream task's output by bucket —
        # #tasks × #buckets tiny files (a probe then opens up to
        # #tasks files per bucket; on a 1000-executor build, 1000).
        # After the shuffle each bucket lives in exactly one task, so
        # a probe reads one file per bucket. If single buckets outgrow
        # a task at extreme scale, repartition on (bucket, salt)
        # instead — probes still prune on the bucket directory.
        .repartition(F.col("bucket")),
        path,
        ("bucket",),
        n_planes=n_planes,
        dim=dim,
        fingerprint=None,
    )


def append_lsh_index(new_vecs, path: str) -> None:
    """Incrementally extend an EXISTING LSH index with new vectors —
    the maintenance half of the at-rest economics: at 100 TB an append
    of 0.1%% of the corpus must cost 0.1%% of a build, not a rebuild.
    New rows are bucketed with the SAME deterministic hyperplanes
    (from the stored {n_planes, dim} meta) and written in append mode
    into the bucket partition directories, so probes keep pruning
    exactly as before; each append adds at most one file per TOUCHED
    bucket (the accumulated-appends trade every lake makes — fold with
    a periodic rebuild, like tx_lake.compact()).

    Search results over (base ++ appended) are IDENTICAL to a fresh
    full build over the union: bucketing is deterministic per vector
    and lsh_search re-ranks by exact cosine within the probed buckets,
    so only CONTENT, not file layout, affects the top-k
    (pinned by tests/test_similarity.py).

    Only meaningful for caller-owned stores written by
    :func:`write_lsh_index`: the fingerprint-keyed session store is
    invalidated by ANY source-table change, by design. The meta is
    left as it is."""
    from babylon_data_loader_spark.operators.index_store import (
        check_append_schema,
        read_store_meta,
    )

    meta = read_store_meta(new_vecs.sparkSession, path)
    dim = int(meta["dim"])
    planes = [_hyperplane(p, dim) for p in range(int(meta["n_planes"]))]
    first = new_vecs.select("embedding").first()
    if first is None:
        return  # empty append: nothing to write
    if len(first[0]) != dim:
        raise ValueError(
            f"append_lsh_index: new vectors have dim {len(first[0])}, "
            f"index was built for dim {dim}"
        )
    # column-set/type guard mirrors the dim check: schema-divergent
    # appended files would surface as NULLs on later probes
    check_append_schema(meta, new_vecs, exclude=("bucket",))
    (
        new_vecs.withColumn("bucket", sign_bucket(F.col("embedding"), planes))
        # same one-shuffle discipline as the full build: one new file
        # per touched bucket per append, not #tasks x #buckets
        .repartition(F.col("bucket"))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def read_lsh_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(indexed DataFrame with its `bucket` partition column, meta)."""
    from babylon_data_loader_spark.operators.index_store import read_store

    return read_store(spark, path)


def lsh_search(
    indexed: DataFrame,
    meta: dict,
    query_vec: list[float],
    k: int = 10,
    probe_hamming: int = 2,
) -> DataFrame:
    """Top-k ``vec_id`` by exact cosine within the multi-probe buckets
    of a stored LSH index.

    The query's bucket and its Hamming-ball probes are computed
    driver-side (O(n_planes·d) + O(n_planes^probe_hamming) strings);
    the data plane sees a `bucket IN (...)` filter on the PARTITION
    column — directory pruning at the source, then a TakeOrdered.
    No shuffle, no full scan (plan-asserted in tests)."""
    planes = [
        _hyperplane(p, meta["dim"]) for p in range(meta["n_planes"])
    ]
    probes = _probe_buckets(_bucket_of(query_vec, planes), probe_hamming)

    qcol = double_array_lit(query_vec)
    sim = F.round(cosine(F.col("embedding"), qcol), 9).alias("sim")
    keep = [c for c in ("vec_id", "label") if c in indexed.columns]
    return (
        indexed.filter(F.col("bucket").isin(probes))
        .select(*keep, sim)
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def knn_lsh(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate cosine top-k via multi-probe sign-LSH (Hamming
    radius 2) over an AT-REST bucketed index.

    The index (table partitioned by sign bucket) is built ONCE via
    :func:`write_lsh_index` and reused across calls. The store is
    keyed by the input's CONTENT fingerprint (file sizes + mtimes —
    operators/index_store.py) under the session warehouse dir: the
    first call per dataset version pays the build, every later call
    is pure probe cost, and regenerated data can never alias onto a
    stale index (new fingerprint → new dir, old dirs swept). Inputs
    with no file lineage cannot be fingerprinted and raise: an index
    for them would be a full table write per call. The search itself
    reads ONLY the probed buckets' partitions (pushed-down partition
    filter) plus one O(1) point lookup for the query row — never a
    full scan.
    """
    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_store,
    )

    index_path = get_or_build_store(
        emb,
        "lsh_index",
        f"p{n_planes}",
        lambda path: write_lsh_index(emb, path, n_planes=n_planes),
    )
    if index_path is None:
        raise ValueError(
            "knn_lsh: input has no file lineage to fingerprint, so a "
            "persistent index cannot be keyed to it"
        )
    indexed, meta = read_lsh_index(emb.sparkSession, index_path)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == query_vec_id).first()[
            "embedding"
        ]
    ]
    return lsh_search(
        indexed.filter(F.col("vec_id") != query_vec_id), meta, qvec, k=k
    )
