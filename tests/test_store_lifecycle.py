"""The at-rest store lifecycle (operators/index_store.py): staged build,
atomic publish where the first writer wins, and the one sweep rule."""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from babylon_data_loader_spark.operators.index_store import (
    ACCESS_LOG,
    STAGING_PREFIX,
    STAGING_TTL_S,
    get_or_build_parquet,
    get_or_build_store,
    new_staging_dir,
    sweep_dead_stores,
    warehouse_dir,
)
from babylon_data_loader_spark.schemas import load_table


def _entries(spark, prefix: str) -> list[str]:
    return sorted(
        e for e in os.listdir(warehouse_dir(spark)) if e.startswith(prefix)
    )


@pytest.fixture()
def emb(spark, sf_dir, tmp_path):
    """An sf0.001 embeddings copy of this test's own; its stores
    (kinds ``lc*``) are removed afterwards."""
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"),
        tmp_path / "embeddings.parquet",
    )
    yield load_table(spark, str(tmp_path), "embeddings")
    for prefix in ("idx_lc", f"{STAGING_PREFIX}lc"):
        for e in _entries(spark, prefix):
            shutil.rmtree(
                os.path.join(warehouse_dir(spark), e), ignore_errors=True
            )


def test_concurrent_builds_publish_one_store(spark, emb):
    """Two threads of one session miss and build the same store at
    once: both read the same rows, exactly one ``idx_`` dir is
    published, and the loser's staging copy is gone."""
    # Neither thread can publish before both are inside build(), so
    # both must have missed: the publish race is always exercised.
    both_building = threading.Barrier(2, timeout=120)

    def build():
        both_building.wait()
        return emb.select("vec_id", "label")

    expected = sorted(map(tuple, emb.select("vec_id", "label").collect()))
    results: list = [None, None]
    errors: list = []

    def worker(i: int) -> None:
        try:
            out = get_or_build_parquet(emb, "lcrace", "v1", build)
            results[i] = sorted(map(tuple, out.collect()))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    before = len(ACCESS_LOG)
    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive(), "store build did not finish"
    assert not errors, errors
    assert results == [expected, expected]
    assert [a["hit"] for a in ACCESS_LOG[before:]] == [False, False]
    assert len(_entries(spark, "idx_lcrace_")) == 1
    assert _entries(spark, f"{STAGING_PREFIX}lcrace_") == []


def test_failed_build_publishes_nothing(spark, emb):
    """A write that raises after Spark has written part files leaves
    no ``idx_`` dir and no staging dir; the next access rebuilds."""

    class BuildFailed(RuntimeError):
        pass

    def write_then_fail(staging: str) -> None:
        emb.select("vec_id").write.parquet(staging)
        assert any(n.startswith("part-") for n in os.listdir(staging))
        raise BuildFailed

    with pytest.raises(BuildFailed):
        get_or_build_store(emb, "lcfail", "v1", write_then_fail)
    assert _entries(spark, "idx_lcfail_") == []
    assert _entries(spark, f"{STAGING_PREFIX}lcfail_") == []

    path = get_or_build_store(
        emb,
        "lcfail",
        "v1",
        lambda staging: emb.select("vec_id").write.parquet(staging),
    )
    assert ACCESS_LOG[-1] == {"kind": "lcfail", "params": "v1", "hit": False}
    assert spark.read.parquet(path).count() == emb.count()
    assert _entries(spark, "idx_lcfail_") == [os.path.basename(path)]


def test_sweep_ages_out_staging_and_removes_metaless_stores(spark):
    """A fresh staging dir (a build in flight) survives the sweep; a
    backdated one (a killed build) and a meta-less ``idx_`` dir (no
    published store lacks meta) are removed."""
    wh = warehouse_dir(spark)
    fresh = new_staging_dir(spark, "lcsweep")
    stale = new_staging_dir(spark, "lcsweep")
    metaless = os.path.join(wh, "idx_lcsweep_000000000000_v1")
    for d in (fresh, stale, metaless):
        os.makedirs(d)
    past = time.time() - STAGING_TTL_S - 60
    os.utime(stale, (past, past))
    try:
        assert sweep_dead_stores(spark) >= 2
        assert os.path.isdir(fresh)
        assert not os.path.exists(stale)
        assert not os.path.exists(metaless)
    finally:
        for d in (fresh, stale, metaless):
            shutil.rmtree(d, ignore_errors=True)


def test_threshold_store_params_do_not_collide():
    """Store params ROUND the threshold: truncation keyed 0.56 and
    0.57 onto one verified-pair store (int(0.57 * 100) == 56)."""
    from babylon_data_loader_spark.operators.dedup import (
        verified_pairs_params,
    )
    from babylon_data_loader_spark.operators.similarity import (
        embedding_pairs_params,
    )

    assert verified_pairs_params(0.56, 4, 3, 1000) != verified_pairs_params(
        0.57, 4, 3, 1000
    )
    assert embedding_pairs_params(0.56) != embedding_pairs_params(0.57)
