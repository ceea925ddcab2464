"""Embedding near-dup: banded sign-LSH vs exact all-pairs."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(7)
    rows, vid = [], 0
    for _ in range(300):
        rows.append((vid, [float(x) for x in rng.normal(size=32)]))
        vid += 1
    for _ in range(20):  # 20 planted near-dup pairs (cosine ≈ 0.999)
        v = rng.normal(size=32)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        rows.append(
            (vid, [float(x) for x in (v + rng.normal(size=32) * 0.01)])
        )
        vid += 1
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).cache()


def test_banded_lsh_finds_planted_dups(spark, planted):
    from babylon_data_loader_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(planted, 0.98, exact=True).collect()
    }
    assert len(exact) == 20  # all planted, no random collisions
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(planted, 0.98).collect()
    }
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall}"
    # verification step keeps precision exact: every emitted pair truly
    # clears the threshold
    assert lsh <= exact


def test_lsh_no_false_pairs_on_random(spark, planted):
    from babylon_data_loader_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    # raise the bar: at 0.999 only the tightest planted pairs survive,
    # and nothing random does
    out = embedding_dup_pairs(planted, 0.9999).collect()
    for r in out:
        assert r["sim"] >= 0.9999


def test_lsh_stored_index_prunes_and_recalls(spark, tmp_path):
    """knn_lsh must search an AT-REST bucketed index: the probe scan's
    partition filters carry `bucket` (directory pruning, strictly
    fewer files than the table), and multi-probe recall against brute
    force stays useful. Full-Hamming probing must equal brute force —
    like IVF, the index prunes candidates, never changes similarity."""
    from babylon_data_loader_spark.operators.similarity import (
        knn_bruteforce,
        lsh_search,
        read_lsh_index,
        write_lsh_index,
    )
    from babylon_data_loader_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    path = str(tmp_path / "lsh")
    write_lsh_index(emb, path, n_planes=6)
    stored, meta = read_lsh_index(spark, path)
    assert meta["n_planes"] == 6

    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    out = lsh_search(
        stored.filter("vec_id <> 0"), meta, qvec, k=10, probe_hamming=2
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0]  # probe prunes directories

    exact = [
        r["vec_id"] for r in knn_bruteforce(emb, query_vec_id=0, k=10).collect()
    ]
    got = {r["vec_id"] for r in out.collect()}
    assert len(set(exact) & got) / 10 >= 0.3

    # probing the whole Hamming ball ⇒ every bucket ⇒ exact answer
    full = lsh_search(
        stored.filter("vec_id <> 0"), meta, qvec, k=10, probe_hamming=6
    ).collect()
    assert [r["vec_id"] for r in full] == exact


def test_q_knn_lsh_uses_stored_index(spark):
    """The declared query must go through the at-rest index (probe =
    partition-pruned read, not a full-table bucket computation)."""
    from babylon_data_loader_spark.queries.vectors import q_knn_lsh

    out = q_knn_lsh(spark, "/root/testdata/sf0.001")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0]
    assert len(out.collect()) == 10


def test_exact_all_pairs_guarded_by_row_cap(spark, planted, monkeypatch):
    """The O(N²) baseline must refuse a corpus-sized input."""
    from babylon_data_loader_spark.operators import similarity
    from babylon_data_loader_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    monkeypatch.setattr(similarity, "MAX_EXACT_ROWS", 100)
    with pytest.raises(ValueError, match="MAX_EXACT_ROWS"):
        embedding_dup_pairs(planted, 0.98, exact=True)
    # and still works under the cap
    monkeypatch.setattr(similarity, "MAX_EXACT_ROWS", 1000)
    out = embedding_dup_pairs(planted, 0.98, exact=True)
    assert out.count() == 20


def test_pq_recall_determinism_and_compression(spark):
    """PQ must (a) train deterministic codebooks, (b) compress to m
    small codes per vector, and (c) with exact re-rank recover most of
    the true top-10 — ADC is an estimate, but the candidate pool at
    4x k plus exact re-rank should rarely lose true neighbors."""
    from babylon_data_loader_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_search,
    )
    from babylon_data_loader_spark.operators.similarity import knn_bruteforce
    from babylon_data_loader_spark.schemas import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    b1 = pq_fit(emb, m=8, ksub=16, n_iters=2)
    b2 = pq_fit(emb, m=8, ksub=16, n_iters=2)
    assert b1 == b2  # deterministic training

    codes = pq_encode(emb, b1).select("vec_id", "label", "pq_code").cache()
    row = codes.first()
    assert len(row["pq_code"]) == 8
    mx = codes.select(F.array_max("pq_code").alias("m")).agg(
        F.max("m")
    ).collect()[0][0]
    assert 0 <= mx < 16  # codes stay within ksub

    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    exact = [
        r["vec_id"]
        for r in knn_bruteforce(emb, query_vec_id=0, k=10).collect()
    ]
    got = pq_search(
        codes.filter("vec_id <> 0"),
        b1,
        qvec,
        k=10,
        rerank=emb.filter("vec_id <> 0"),
    ).collect()
    assert len(got) == 10
    recall = len(set(exact) & {r["vec_id"] for r in got}) / 10
    assert recall >= 0.5, f"recall {recall}"
    emb.unpersist()
    codes.unpersist()


def test_index_store_fingerprint_and_reuse(spark, tmp_path):
    """Content-fingerprint keying: same files → same store path (the
    second knn_lsh call writes nothing); touched mtime → NEW
    fingerprint (a regenerated dataset can never alias onto a stale
    index); no file lineage → refuse."""
    import os
    import shutil
    import time

    from babylon_data_loader_spark.operators.index_store import (
        META_NAME,
        df_fingerprint,
        store_path,
    )
    from babylon_data_loader_spark.operators.similarity import knn_lsh
    from babylon_data_loader_spark.schemas import load_table

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        data / "embeddings.parquet",
    )
    emb = load_table(spark, str(data), "embeddings")
    fp = df_fingerprint(emb)
    assert fp is not None
    path = store_path(spark, "lsh_index", fp, "p8")

    out1 = knn_lsh(emb, query_vec_id=0, k=10, n_planes=8).collect()
    assert len(out1) == 10
    mtime1 = os.path.getmtime(os.path.join(path, META_NAME))
    out2 = knn_lsh(emb, query_vec_id=0, k=10, n_planes=8).collect()
    assert out2 == out1
    # second call reused the stored index: no rewrite happened
    assert os.path.getmtime(os.path.join(path, META_NAME)) == mtime1

    # regenerate the dataset in place (same path, new mtime)
    t = time.time() + 10
    os.utime(data / "embeddings.parquet", (t, t))
    emb2 = load_table(spark, str(data), "embeddings")
    fp2 = df_fingerprint(emb2)
    assert fp2 != fp  # new fingerprint → new store dir, old one swept
    knn_lsh(emb2, query_vec_id=0, k=10, n_planes=8).collect()
    assert os.path.isdir(store_path(spark, "lsh_index", fp2, "p8"))
    assert not os.path.isdir(path)  # stale sibling swept

    # in-memory frame: no lineage, must refuse silent staging writes
    import pytest as _pytest

    mem = spark.createDataFrame(
        emb.limit(20).collect(), schema=emb.schema
    )
    with _pytest.raises(ValueError, match="no file lineage"):
        knn_lsh(mem, query_vec_id=0, k=5, n_planes=4)


def test_store_sweep_keeps_live_cross_sf_siblings(spark, tmp_path):
    """Alternating store access across two scale-factor dirs of the
    same table must NOT evict each other's stores (r8 VERDICT: the
    serial sf0.01 correctness run evicted the sf0.1 bench stores and
    paid silent rebuilds). Each store's meta records its source
    files; the sweep keeps stores whose data is still live and only
    removes stores whose data was regenerated or deleted."""
    import os
    import shutil

    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
    )
    from babylon_data_loader_spark.schemas import load_table

    dirs = []
    for i, src in enumerate(("sf0.001", "sf0.001")):
        d = tmp_path / f"sf_{i}"
        d.mkdir()
        shutil.copy(
            f"/root/testdata/{src}/embeddings.parquet",
            d / "embeddings.parquet",
        )
        dirs.append(str(d))
    # distinct mtimes so the two dirs fingerprint differently (two
    # live generations, like sf0.01 vs sf0.1 on the driver box)
    t = os.path.getmtime(os.path.join(dirs[1], "embeddings.parquet"))
    os.utime(
        os.path.join(dirs[1], "embeddings.parquet"), (t + 10, t + 10)
    )

    builds = {"n": 0}

    def access(d: str):
        emb = load_table(spark, d, "embeddings")

        def build():
            builds["n"] += 1
            return emb.select("vec_id").limit(5)

        return get_or_build_parquet(
            emb, "swtest", "p1", build
        ).count()

    # build each once, then alternate: no further builds may happen
    access(dirs[0])
    access(dirs[1])
    assert builds["n"] == 2
    for d in (dirs[0], dirs[1], dirs[0], dirs[1]):
        access(d)
    assert builds["n"] == 2, "live cross-sf sibling store was evicted"

    # deleting one dir's data makes its store sweepable again
    os.remove(os.path.join(dirs[1], "embeddings.parquet"))
    access(dirs[0])
    from babylon_data_loader_spark.operators.index_store import (
        sweep_dead_stores,
        warehouse_dir,
    )

    sweep_dead_stores(spark)

    left = [
        e
        for e in os.listdir(warehouse_dir(spark))
        if e.startswith("idx_swtest_")
    ]
    assert len(left) == 1, left
    for e in left:
        shutil.rmtree(
            os.path.join(warehouse_dir(spark), e), ignore_errors=True
        )


def test_store_meta_live_remote_records(tmp_path):
    """A sidecar recording a NON-LOCAL source (hdfs://, s3://) carries
    a path-only record (no size — os.stat could not reach it at write
    time). Liveness must not stat such records (it would always raise
    and sweep every remote-backed sibling, r9 advice); they count as
    live. A local record still dies with its file."""
    import json
    import os

    from babylon_data_loader_spark.operators.index_store import (
        META_NAME,
        store_meta_live,
    )

    store = tmp_path / "idx_fake_p1"
    store.mkdir()
    local = tmp_path / "data.parquet"
    local.write_bytes(b"x")
    st = os.stat(local)

    def write_meta(recs):
        with open(store / META_NAME, "w", encoding="utf-8") as fh:
            json.dump({"files": recs}, fh)

    # remote-only store: live purely on "path still listed"
    write_meta([{"path": "hdfs://nn/warehouse/docs/part-0.parquet"}])
    assert store_meta_live(str(store))
    # mixed: remote record skipped, live local record passes
    write_meta(
        [
            {"path": "s3://bucket/docs/part-0.parquet"},
            {
                "path": str(local),
                "size": st.st_size,
                "mtime_ns": st.st_mtime_ns,
            },
        ]
    )
    assert store_meta_live(str(store))
    # a LOCAL path-only record (stat failed mid-build) is NOT the
    # remote escape hatch: the store must stay sweepable
    write_meta([{"path": str(local)}])
    assert not store_meta_live(str(store))
    # a dead LOCAL record still kills liveness even next to remotes
    write_meta(
        [
            {"path": "s3://bucket/docs/part-0.parquet"},
            {
                "path": str(local),
                "size": st.st_size,
                "mtime_ns": st.st_mtime_ns,
            },
        ]
    )
    os.remove(local)
    assert not store_meta_live(str(store))


def test_append_lsh_index_equals_full_build(spark, tmp_path):
    """Incremental index maintenance: build over half the vectors,
    append the other half — every probe must return EXACTLY what a
    fresh full build returns (bucketing is deterministic per vector;
    search re-ranks by exact cosine, so file layout is irrelevant).
    Appending a wrong-dim batch must fail; an empty append is a
    no-op."""
    from babylon_data_loader_spark.operators.similarity import (
        append_lsh_index,
        lsh_search,
        read_lsh_index,
        write_lsh_index,
    )
    from babylon_data_loader_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    base = emb.filter("vec_id % 2 = 0")
    extra = emb.filter("vec_id % 2 = 1")

    inc_path = str(tmp_path / "lsh_inc")
    full_path = str(tmp_path / "lsh_full")
    write_lsh_index(base, inc_path, n_planes=6)
    append_lsh_index(extra, inc_path)
    write_lsh_index(emb, full_path, n_planes=6)

    inc, meta_i = read_lsh_index(spark, inc_path)
    full, meta_f = read_lsh_index(spark, full_path)
    assert inc.count() == full.count() == emb.count()

    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    for ph in (1, 2, 6):
        got_i = [
            tuple(r)
            for r in lsh_search(
                inc.filter("vec_id <> 0"), meta_i, qvec, k=10,
                probe_hamming=ph,
            ).collect()
        ]
        got_f = [
            tuple(r)
            for r in lsh_search(
                full.filter("vec_id <> 0"), meta_f, qvec, k=10,
                probe_hamming=ph,
            ).collect()
        ]
        assert got_i == got_f

    # empty append: no change
    before = inc.count()
    append_lsh_index(extra.filter("vec_id < 0"), inc_path)
    assert spark.read.parquet(inc_path).count() == before

    # wrong dimension refused
    import pytest as _pytest

    import pyspark.sql.functions as _F

    bad = extra.limit(1).select(
        "vec_id", _F.slice("embedding", 1, 3).alias("embedding"), "label"
    )
    with _pytest.raises(ValueError, match="dim"):
        append_lsh_index(bad, inc_path)


def test_append_schema_guard_and_crashed_swap_recovery(spark, tmp_path):
    """r6 ADVICE lows: (1) appending a frame whose non-derived column
    set/types diverge from the stored index raises instead of writing
    schema-divergent parquet that later probes surface as NULLs;
    (2) a compact_index swap crashed between its two renames (live
    path missing) is auto-recovered by the readers/next compact
    instead of requiring a rebuild."""
    import os
    import shutil

    import pyspark.sql.functions as _F
    import pytest as _pytest

    from babylon_data_loader_spark.operators.index_store import (
        recover_index,
    )
    from babylon_data_loader_spark.operators.similarity import (
        append_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )
    from babylon_data_loader_spark.schemas import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "lsh")
    write_lsh_index(emb.filter("vec_id % 2 = 0"), path, n_planes=6)
    extra = emb.filter("vec_id % 2 = 1")

    # extra column refused
    with _pytest.raises(ValueError, match="schema mismatch"):
        append_lsh_index(extra.withColumn("junk", _F.lit(1)), path)
    # missing column refused
    with _pytest.raises(ValueError, match="schema mismatch"):
        append_lsh_index(extra.drop("label"), path)
    # renamed column refused
    with _pytest.raises(ValueError, match="schema mismatch"):
        append_lsh_index(
            extra.withColumnRenamed("label", "lbl"), path
        )
    # changed type refused
    with _pytest.raises(ValueError, match="schema mismatch"):
        append_lsh_index(
            extra.withColumn("label", _F.col("label").cast("string")),
            path,
        )
    # matching schema still appends
    append_lsh_index(extra, path)
    n_all = spark.read.parquet(path).count()
    assert n_all == emb.count()

    # crashed swap window: live -> .pre_compact.tmp, staging absent
    os.rename(path, f"{path}.pre_compact.tmp")
    assert recover_index(path) is True
    idx, meta = read_lsh_index(spark, path)
    assert idx.count() == n_all

    # crashed swap with a COMPLETE staging copy: staging wins
    shutil.copytree(path, f"{path}.compact.tmp")
    os.rename(path, f"{path}.pre_compact.tmp")
    idx, meta = read_lsh_index(spark, path)  # reader self-recovers
    assert idx.count() == n_all
    assert not os.path.exists(f"{path}.pre_compact.tmp")


def test_stored_embedding_pairs_reuse(spark, tmp_path):
    """The embedding-side pair store (r6 ask-#5 pattern): first call
    builds and writes, second call returns identical pairs without a
    rewrite; q_semantic_dedup and q_embedding_dup_pairs share the
    entry."""
    import os
    import shutil

    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        store_path,
    )
    from babylon_data_loader_spark.operators.similarity import (
        stored_embedding_pairs,
    )
    from babylon_data_loader_spark.schemas import load_table

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        data / "embeddings.parquet",
    )
    emb = load_table(spark, str(data), "embeddings").select(
        "vec_id", "embedding"
    )
    from pyspark.sql import functions as F

    copies = emb.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    corpus = emb.unionByName(copies)

    out1 = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in stored_embedding_pairs(corpus, threshold=1.0).collect()
    )
    # every planted copy pairs with its original at cosine exactly 1.0
    planted = {(i, i + 1000000) for i in range(0, 100, 5)}
    got = {(a, b) for a, b, _ in out1}
    assert planted <= got
    assert all(s == 1.0 for _, _, s in out1)

    fp = df_fingerprint(corpus)
    path = store_path(
        spark, "emb_pairs", fp, "t1000p8b4m1000_vec_id_embedding"
    )
    assert os.path.isdir(path)
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    out2 = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in stored_embedding_pairs(corpus, threshold=1.0).collect()
    )
    assert out2 == out1
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime


def test_sweep_dead_stores_full_warehouse(spark, tmp_path):
    """sweep_dead_stores removes every store whose recorded source
    data no longer exists unchanged — regardless of kind — while
    leaving live stores and fresh staging dirs (possible in-flight
    builds) untouched (r16 full-warehouse maintenance sweep)."""
    import os
    import shutil

    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
        new_staging_dir,
        sweep_dead_stores,
        warehouse_dir,
    )
    from babylon_data_loader_spark.schemas import load_table

    # flush dead stores stranded by earlier tests so the ==0 check
    # below observes only this test's state
    sweep_dead_stores(spark)

    d = tmp_path / "ds"
    d.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        d / "embeddings.parquet",
    )
    emb = load_table(spark, str(d), "embeddings")
    get_or_build_parquet(
        emb, "swdead", "p1", lambda: emb.select("vec_id").limit(5)
    ).count()
    wh = warehouse_dir(spark)
    dead = [e for e in os.listdir(wh) if e.startswith("idx_swdead_")]
    assert len(dead) == 1
    # a fresh staging dir (a build in flight): must survive the sweep
    inflight = new_staging_dir(spark, "swdead")
    os.makedirs(inflight)
    try:
        # data still live: nothing removed
        assert sweep_dead_stores(spark) == 0
        assert os.path.isdir(os.path.join(wh, dead[0]))
        # delete the source data: the store becomes dead and sweeps
        os.remove(d / "embeddings.parquet")
        assert sweep_dead_stores(spark) >= 1
        assert not os.path.isdir(os.path.join(wh, dead[0]))
        assert os.path.isdir(inflight), "fresh staging dir was swept"
    finally:
        shutil.rmtree(inflight, ignore_errors=True)
