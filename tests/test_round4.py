"""Round-4 additions: Delta-log export bridge, Bloom semi-join
reduction, shared hot-bucket guard, MinHash signature store."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from babylon_data_loader_spark.schemas import load_table


def test_delta_export_log_structure_and_roundtrip(spark, tmp_path):
    """The exported log must carry protocol/metaData/add actions per
    the Delta spec, and an independent log-walking reader must
    reconstruct exactly the lake's live rows."""
    from babylon_data_loader_spark.operators.delta_export import (
        export_delta_log,
        read_delta_export,
    )
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(
            F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("event_id", "event_type", "value")
    )
    lake = TransactionalLake(
        str(tmp_path / "lake"), partition_col="event_type"
    )
    lake.merge(spark, events, key=["event_id"])

    out = str(tmp_path / "delta")
    summary = export_delta_log(spark, lake, out)
    assert summary["n_files"] > 0 and summary["n_bytes"] > 0

    commit = os.path.join(out, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(l) for l in open(commit, encoding="utf-8")]
    assert actions[0]["protocol"]["minReaderVersion"] == 1
    meta = actions[1]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == ["event_type"]
    schema = json.loads(meta["schemaString"])
    names = [f["name"] for f in schema["fields"]]
    assert "event_type" in names and "event_id" in names
    adds = [a["add"] for a in actions[2:]]
    assert len(adds) == summary["n_files"]
    for a in adds:
        assert a["path"].startswith("file://")
        assert "event_type" in a["partitionValues"]
        assert a["size"] > 0

    back = read_delta_export(spark, out)
    want = sorted(
        (r["event_id"], r["event_type"], r["value"])
        for r in lake.read(spark).collect()
    )
    got = sorted(
        (r["event_id"], r["event_type"], r["value"])
        for r in back.collect()
    )
    assert got == want


def test_bloom_prefilter_exact_and_selective(spark):
    """The prefiltered+joined result must equal the plain join, and
    the prefilter must actually drop most non-matching rows."""
    from babylon_data_loader_spark.operators.sketch_join import (
        bloom_prefilter,
    )

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem")
    small = orders.filter(F.col("o_orderpriority") == "1-URGENT")

    pre = bloom_prefilter(
        lineitem, small, big_key="l_orderkey", small_key="o_orderkey"
    )
    exact_keys = {
        r["o_orderkey"] for r in small.select("o_orderkey").collect()
    }
    pre_rows = pre.select("l_orderkey").collect()
    # no false negatives: every truly-matching row survives
    true_rows = [
        r for r in lineitem.select("l_orderkey").collect()
        if r["l_orderkey"] in exact_keys
    ]
    surviving_true = [
        r for r in pre_rows if r["l_orderkey"] in exact_keys
    ]
    assert len(surviving_true) == len(true_rows)
    # selective: false positives are a small fraction of non-matches
    n_total = lineitem.count()
    fp = len(pre_rows) - len(true_rows)
    assert fp <= 0.05 * n_total, f"{fp} false positives of {n_total}"

    joined = pre.join(
        small.select("o_orderkey"),
        pre.l_orderkey == F.col("o_orderkey"),
    ).count()
    plain = lineitem.join(
        small.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).count()
    assert joined == plain


def test_drop_oversized_buckets(spark):
    from babylon_data_loader_spark.operators.buckets import (
        drop_oversized_buckets,
    )

    rows = [(i, f"b{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "id int, bucket string")
    # 3 buckets of 10 rows: cap 100 keeps all, cap 5 drops all
    assert drop_oversized_buckets(df, ["bucket"], 100).count() == 30
    assert drop_oversized_buckets(df, ["bucket"], 5).count() == 0
    # mixed sizes: only the hot bucket's rows go
    hot = df.union(
        spark.createDataFrame(
            [(100 + i, "hot") for i in range(12)], "id int, bucket string"
        )
    )
    kept = drop_oversized_buckets(hot, "bucket", 10)
    assert kept.count() == 30
    assert kept.filter(F.col("bucket") == "hot").count() == 0
    # None disables the guard entirely
    assert drop_oversized_buckets(hot, ["bucket"], None).count() == 42


def test_stored_minhash_matches_inline_and_reuses(spark, tmp_path):
    """Store roundtrip must be value-identical to the inline pipeline,
    and a second call must read the same store (no rewrite)."""
    import shutil

    from babylon_data_loader_spark.operators.dedup import (
        minhash_signatures,
        stored_minhash_signatures,
    )
    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        store_path,
    )

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        data / "documents.parquet",
    )
    docs = load_table(spark, str(data), "documents")
    inline = sorted(map(tuple, minhash_signatures(docs).collect()))
    stored = sorted(map(tuple, stored_minhash_signatures(docs).collect()))
    assert stored == inline

    path = store_path(spark, "mh_sigs", df_fingerprint(docs), "b4s3")
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    again = sorted(map(tuple, stored_minhash_signatures(docs).collect()))
    assert again == inline
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime


def test_stored_exact_survivor_ids_matches_inline(spark, tmp_path):
    """The at-rest survivor-id set must equal the inline
    dedup_exact_ids aggregate, and a second call must read the same
    store (no rewrite)."""
    import shutil

    from babylon_data_loader_spark.operators.dedup import (
        dedup_exact_ids,
        stored_exact_survivor_ids,
    )
    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        store_path,
    )

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        data / "documents.parquet",
    )
    docs = load_table(spark, str(data), "documents")
    inline = sorted(r["doc_id"] for r in dedup_exact_ids(docs).collect())
    stored = sorted(
        r["doc_id"] for r in stored_exact_survivor_ids(docs).collect()
    )
    assert stored == inline

    path = store_path(
        spark, "xsurv_ids", df_fingerprint(docs), "i_doc_id_t_text"
    )
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    again = sorted(
        r["doc_id"] for r in stored_exact_survivor_ids(docs).collect()
    )
    assert again == inline
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime


def test_heavy_hitters_bigint_keys(spark):
    """The partial schema must follow the item column's type — BIGINT
    ids, not just STRING tokens."""
    from babylon_data_loader_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    rows = [(7,)] * 60 + [(8,)] * 25 + [(i,) for i in range(100, 115)]
    df = spark.createDataFrame(rows, "item bigint")
    got = {
        (r["item"], r["n"])
        for r in heavy_hitters(df, "item", phi=0.2).collect()
    }
    assert got == {(7, 60), (8, 25)}


def test_zorder_all_null_column_raises(spark):
    from babylon_data_loader_spark.operators.layout import zorder_column

    df = spark.createDataFrame(
        [(1, None), (2, None)], "a int, b string"
    ).withColumn("b", F.lit(None).cast("double"))
    with pytest.raises(ValueError, match="'b'"):
        zorder_column(df, ["a", "b"])


def test_stored_doc_components_matches_inline(spark, tmp_path):
    """The at-rest component-label store must equal the inline
    connected_components over the same stored verified pairs, and a
    second call must read the same store (no rewrite)."""
    import shutil

    from babylon_data_loader_spark.operators.dedup import (
        stored_doc_components,
        stored_verified_pairs,
    )
    from babylon_data_loader_spark.operators.graph import (
        connected_components,
    )
    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        store_path,
    )

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        data / "documents.parquet",
    )
    docs = load_table(spark, str(data), "documents")
    inline = sorted(
        (r["id"], r["component"])
        for r in connected_components(
            docs.select("doc_id"),
            stored_verified_pairs(docs).select("doc_a", "doc_b"),
            id_col="doc_id",
            src_col="doc_a",
            dst_col="doc_b",
        ).collect()
    )
    stored = sorted(
        (r["id"], r["component"])
        for r in stored_doc_components(docs).collect()
    )
    assert stored == inline

    path = store_path(
        spark,
        "mh_comp",
        df_fingerprint(docs),
        "t50b4s3m1000_doc_id",
    )
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    stored_doc_components(docs).collect()
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime


def test_stored_embedding_components_matches_inline(spark, tmp_path):
    """Embedding-side twin: the emb_comp store must equal the inline
    connected_components over the same stored embedding pairs."""
    import shutil

    from babylon_data_loader_spark.operators.graph import (
        connected_components,
    )
    from babylon_data_loader_spark.operators.similarity import (
        stored_embedding_components,
        stored_embedding_pairs,
    )

    data = tmp_path / "ds"
    data.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        data / "embeddings.parquet",
    )
    emb = load_table(spark, str(data), "embeddings").select(
        "vec_id", "embedding"
    )
    pairs = stored_embedding_pairs(emb, threshold=1.0)
    inline = sorted(
        (r["id"], r["component"])
        for r in connected_components(
            emb.select(F.col("vec_id").alias("id")),
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
        ).collect()
    )
    stored = sorted(
        (r["id"], r["component"])
        for r in stored_embedding_components(
            emb, threshold=1.0
        ).collect()
    )
    assert stored == inline
