"""One store meta (operators/index_store.py): every store dir records
the schema it was written with, and every store read is opened with
that schema instead of inferring one from parquet footers and
partition directory names."""

from __future__ import annotations

import ast
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.operators.index_store import (
    ACCESS_LOG,
    META_NAME,
    STAGING_PREFIX,
    compact_index,
    get_or_build_parquet,
    read_store,
    warehouse_dir,
)
from babylon_data_loader_spark.schemas import load_table

PKG = os.path.join(
    os.path.dirname(__file__), "..", "babylon_data_loader_spark"
)

# Inference reads the same digits-only partition values as numbers.
_NO_PART_INFERENCE = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _jobs_of(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def assert_declared_read(spark, path: str, part_types: dict) -> None:
    """The store read equals the inferred read of the same dir in
    column order and rows, and every column has its written type: the
    footer's for data columns, ``part_types`` for partition columns.
    The inferred side reads partition values as strings, so a value
    like ``000100`` keeps its spelling before the cast."""
    frame, meta = read_store(spark, path)
    spark.conf.set(_NO_PART_INFERENCE, "false")
    try:
        inferred = spark.read.parquet(path)
    finally:
        spark.conf.unset(_NO_PART_INFERENCE)
    assert frame.columns == inferred.columns
    want = T.StructType(
        [
            T.StructField(f.name, part_types.get(f.name, f.dataType), True)
            for f in inferred.schema
        ]
    )
    assert frame.schema == want
    assert T.StructType.fromJson(meta["schema"]) == want
    assert _sorted_rows(frame) == _sorted_rows(
        inferred.select([F.col(f.name).cast(f.dataType) for f in want])
    )


def assert_first_read_starts_no_job(spark, read) -> None:
    _, jobs = _jobs_of(spark, "store-meta-first-read", read)
    assert jobs == []


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture()
def docs(spark):
    span = " ".join(f"w{i}" for i in range(20))
    rows = [
        (0, span + " a1 a2 a3 a4"),
        (1, " ".join(f"u{i}" for i in range(30))),
        (2, "tiny doc"),
        (3, span + " b1 b2 b3 b4"),
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


@pytest.fixture()
def keyed_source(spark, sf_dir, tmp_path):
    """An sf0.001 embeddings copy of this test's own; its stores
    (kind ``smkeyed``) are removed afterwards."""
    shutil.copy(
        os.path.join(sf_dir, "embeddings.parquet"),
        tmp_path / "embeddings.parquet",
    )
    yield load_table(spark, str(tmp_path), "embeddings")
    wh = warehouse_dir(spark)
    for e in os.listdir(wh):
        if e.startswith(("idx_smkeyed_", f"{STAGING_PREFIX}smkeyed_")):
            shutil.rmtree(os.path.join(wh, e), ignore_errors=True)


def _keyed_path(spark, kind: str) -> str:
    wh = warehouse_dir(spark)
    (entry,) = [e for e in os.listdir(wh) if e.startswith(f"idx_{kind}_")]
    return os.path.join(wh, entry)


def test_keyed_parquet_store_reads_bigint_partitions(spark, keyed_source):
    def build():
        return keyed_source.select(
            "vec_id", "label", (F.col("vec_id") % 3).cast("bigint").alias("b")
        )

    store = get_or_build_parquet(keyed_source, "smkeyed", "v1", build, ("b",))
    path = _keyed_path(spark, "smkeyed")
    assert_first_read_starts_no_job(spark, lambda: read_store(spark, path))
    assert store.schema["b"].dataType == T.LongType()
    assert sorted(map(tuple, store.collect())) == sorted(
        map(tuple, build().collect())
    )
    assert_declared_read(spark, path, {"b": T.LongType()})
    compact_index(spark, path, "b")
    assert_declared_read(spark, path, {"b": T.LongType()})


def test_legacy_keyed_store_is_rebuilt_once(spark, keyed_source):
    """A published store whose meta records no schema predates the one
    meta: the next access rebuilds it in place, the one after hits."""

    def build():
        return keyed_source.select("vec_id", "label")

    get_or_build_parquet(keyed_source, "smkeyed", "legacy", build)
    path = _keyed_path(spark, "smkeyed")
    with open(os.path.join(path, META_NAME), encoding="utf-8") as fh:
        meta = json.load(fh)
    del meta["schema"]
    with open(os.path.join(path, META_NAME), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)

    before = len(ACCESS_LOG)
    rebuilt = get_or_build_parquet(keyed_source, "smkeyed", "legacy", build)
    hit = get_or_build_parquet(keyed_source, "smkeyed", "legacy", build)
    assert [a["hit"] for a in ACCESS_LOG[before:]] == [False, True]
    assert _keyed_path(spark, "smkeyed") == path
    with open(os.path.join(path, META_NAME), encoding="utf-8") as fh:
        assert "schema" in json.load(fh)
    want = sorted(map(tuple, build().collect()))
    assert sorted(map(tuple, rebuilt.collect())) == want
    assert sorted(map(tuple, hit.collect())) == want


def test_lsh_index_store(spark, emb, tmp_path):
    from babylon_data_loader_spark.operators.similarity import (
        append_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )

    path = str(tmp_path / "lsh")
    write_lsh_index(emb.where("vec_id % 2 = 0"), path, n_planes=4)
    assert_first_read_starts_no_job(spark, lambda: read_lsh_index(spark, path))
    bucket = {"bucket": T.StringType()}
    assert_declared_read(spark, path, bucket)
    append_lsh_index(emb.where("vec_id % 2 = 1"), path)
    assert_declared_read(spark, path, bucket)
    compact_index(spark, path, "bucket")
    assert_declared_read(spark, path, bucket)
    assert read_lsh_index(spark, path)[0].count() == emb.count()


def test_pq_index_store(spark, emb, tmp_path):
    from babylon_data_loader_spark.operators.pq import (
        pq_encode,
        pq_fit,
        read_pq_index,
        write_pq_index,
    )

    books = pq_fit(emb, m=4, ksub=4, n_iters=1)
    path = str(tmp_path / "pq")
    write_pq_index(
        pq_encode(emb, books).select("vec_id", "label", "pq_code"),
        path,
        books,
    )
    assert_first_read_starts_no_job(spark, lambda: read_pq_index(spark, path))
    assert_declared_read(spark, path, {})
    codes, stored_books = read_pq_index(spark, path)
    assert stored_books == books
    assert codes.count() == emb.count()


def test_token_window_store(spark, docs, tmp_path, monkeypatch):
    from babylon_data_loader_spark.operators import dedup
    from babylon_data_loader_spark.operators.dedup import (
        append_token_windows,
        read_token_window_store,
        token_windows,
        write_token_window_store,
    )

    path = str(tmp_path / "tokwin")
    # two hex chars: prefixes like "07" or "42" are strings, not numbers
    monkeypatch.setattr(dedup, "TOKWIN_PREFIX_CHARS", 2)
    write_token_window_store(docs.where("doc_id < 3"), path)
    assert_first_read_starts_no_job(
        spark, lambda: read_token_window_store(spark, path)
    )
    hp = {"hp": T.StringType()}
    assert_declared_read(spark, path, hp)
    append_token_windows(docs.where("doc_id >= 3"), path)
    assert_declared_read(spark, path, hp)
    compact_index(spark, path, "hp")
    assert_declared_read(spark, path, hp)
    got, meta = read_token_window_store(spark, path)
    assert (meta["k"], meta["prefix_chars"]) == (16, 2)
    assert _sorted_rows(got.select("_id", "_pos", "_h")) == _sorted_rows(
        token_windows(docs).select("_id", "_pos", "_h")
    )


def test_gram_index_store(spark, docs, tmp_path):
    from babylon_data_loader_spark.operators.decontaminate import (
        append_gram_index,
        gram_hashes,
        read_gram_index,
        write_gram_index,
    )

    path = str(tmp_path / "grams")
    write_gram_index(docs.where("doc_id < 3"), path)
    assert_first_read_starts_no_job(
        spark, lambda: read_gram_index(spark, path)
    )
    assert_declared_read(spark, path, {})
    append_gram_index(docs.where("doc_id >= 3"), path)
    assert_declared_read(spark, path, {})
    grams, meta = read_gram_index(spark, path)
    assert meta["n"] == 4
    assert sorted(r["h"] for r in grams.distinct().collect()) == sorted(
        r["h"] for r in gram_hashes(docs).select("h").distinct().collect()
    )


def test_compact_keeps_lsh_bucket_spelling(spark, emb, tmp_path):
    """Compacting an LSH index keeps its bit-string bucket dirs
    (``bucket=000100`` stays, it does not become ``bucket=100``), the
    bucket column stays a string, and probes answer as before."""
    from babylon_data_loader_spark.operators.similarity import (
        append_lsh_index,
        lsh_search,
        read_lsh_index,
        write_lsh_index,
    )

    path = str(tmp_path / "lsh")
    write_lsh_index(emb.where("vec_id % 2 = 0"), path, n_planes=6)
    append_lsh_index(emb.where("vec_id % 2 = 1"), path)
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    def probes():
        indexed, meta = read_lsh_index(spark, path)
        return [
            lsh_search(
                indexed.where("vec_id <> 0"), meta, qvec, k=10,
                probe_hamming=h,
            ).collect()
            for h in (1, 2, 6)
        ]

    def bucket_dirs():
        return sorted(d for d in os.listdir(path) if d.startswith("bucket="))

    dirs, before = bucket_dirs(), probes()
    assert any(d.startswith("bucket=0") for d in dirs)
    compact_index(spark, path, "bucket")
    assert bucket_dirs() == dirs
    assert read_lsh_index(spark, path)[0].schema["bucket"].dataType == (
        T.StringType()
    )
    assert probes() == before


STORE_MODULES = (
    "index_store",
    "dedup",
    "pq",
    "similarity",
    "decontaminate",
    "rank",
    "det_ann",
)


def _undeclared_parquet_reads() -> list[tuple[str, int]]:
    """``<x>.read.parquet(...)`` calls, i.e. parquet reads with no
    ``.schema(...)`` between ``read`` and ``parquet``."""
    found = []
    for mod in STORE_MODULES:
        path = os.path.join(PKG, "operators", f"{mod}.py")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
            ):
                found.append((f"operators/{mod}.py", node.lineno))
    return found


def test_store_reads_declare_their_schema():
    assert _undeclared_parquet_reads() == []
