"""Dedup operator family: exact, MinHash/LSH, Jaccard verify."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "THE  quick   brown fox jumps over the lazy dog  "),  # exact dup (normalized)
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines and data"),
        (5, "another unrelated document with its own words entirely"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_lsh_candidates_find_near_dup(spark, docs):
    from babylon_data_loader_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sig = minhash_signatures(docs)
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sig).collect()
    }
    assert (1, 2) in pairs  # exact dups always share all bands
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares ≥1 band


def test_jaccard_verify_scores(spark, docs):
    from babylon_data_loader_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify(docs, pairs, threshold=0.0).collect()
    }
    # doc2 lower-cases/tokenizes to doc1's exact shingle set → 1.0
    assert verified[(1, 2)] == pytest.approx(1.0)
    # doc3 differs in the final token: 6 of 7 shingles shared → 6/8
    assert verified[(1, 3)] == pytest.approx(0.75)


def test_token_window_store_append_equals_rebuild(spark, tmp_path):
    """Caller-owned window store: write(corpus) + append(batch) must
    hold EXACTLY the content of a fresh full build over corpus+batch
    (hashing is per-document deterministic, so file layout is
    invisible to consumers); probes prune to the probed prefixes'
    partition dirs; empty appends are no-ops."""
    import os

    from babylon_data_loader_spark.operators.dedup import (
        append_token_windows,
        probe_token_windows,
        read_token_window_store,
        token_windows,
        write_token_window_store,
    )

    span = " ".join(f"w{i}" for i in range(20))
    rows = [
        (0, span + " a1 a2 a3 a4"),
        (1, " ".join(f"u{i}" for i in range(30))),
        (2, "tiny doc"),
        (3, span + " b1 b2 b3 b4"),  # the appended near-twin
        (4, "tiny doc"),             # appended fallback twin of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    corpus = docs.where("doc_id < 3")
    batch = docs.where("doc_id >= 3")
    path = os.path.join(str(tmp_path), "tokwin_store")

    write_token_window_store(corpus, path)
    append_token_windows(batch, path)
    got, meta = read_token_window_store(spark, path)
    assert meta["k"] == 16 and meta["prefix_chars"] == 1
    got_rows = sorted(
        (r["_id"], r["_pos"], r["_h"])
        for r in got.select("_id", "_pos", "_h").collect()
    )
    want_rows = sorted(
        (r["_id"], r["_pos"], r["_h"])
        for r in token_windows(docs).collect()
    )
    assert got_rows == want_rows

    # probe: doc 3's window at pos 0 is the shared span — the store
    # must return both occurrences, reading only the probed prefixes
    h = [
        r["_h"]
        for r in token_windows(docs)
        .where("_id = 3 and _pos = 0")
        .collect()
    ]
    hits = probe_token_windows(spark, path, h)
    assert {(r["_id"], r["_pos"]) for r in hits.collect()} == {
        (0, 0),
        (3, 0),
    }
    # partition pruning is a PLAN property (inputFiles() reports the
    # pre-pruning relation): the probe's scan must carry a NON-EMPTY
    # PartitionFilters entry on hp, and the executed scan must report
    # having read exactly ONE of the store's partition dirs (the
    # numPartitions metric of the file scan after execution)
    exec_plan = hits._jdf.queryExecution().executedPlan()
    plan_str = exec_plan.toString()
    assert "PartitionFilters: [" in plan_str
    assert "PartitionFilters: []" not in plan_str
    assert "hp" in plan_str.split("PartitionFilters")[1][:200]

    def _scan_metric(node, name):
        m = node.metrics()
        if m.contains(name):
            return m.apply(name).value()
        for i in range(node.children().size()):
            v = _scan_metric(node.children().apply(i), name)
            if v is not None:
                return v
        return None

    n_parts = _scan_metric(exec_plan, "numPartitions")
    if n_parts is not None:  # metric name is version-dependent
        assert n_parts == 1

    # empty append: content unchanged
    append_token_windows(docs.where("doc_id < 0"), path)
    assert (
        sorted(
            (r["_id"], r["_pos"], r["_h"])
            for r in read_token_window_store(spark, path)[0]
            .select("_id", "_pos", "_h")
            .collect()
        )
        == want_rows
    )

    # compact (the generic index compactor works on the hp layout):
    # content identical, meta preserved, one file per prefix dir
    from babylon_data_loader_spark.operators.index_store import (
        compact_index,
    )

    compact_index(spark, path, "hp")
    got2, meta2 = read_token_window_store(spark, path)
    assert meta2 == meta
    assert (
        sorted(
            (r["_id"], r["_pos"], r["_h"])
            for r in got2.select("_id", "_pos", "_h").collect()
        )
        == want_rows
    )
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("hp=") and os.path.isdir(full):
            n = sum(f.endswith(".parquet") for f in os.listdir(full))
            assert n == 1, f"{d} has {n} files after compact"


def test_token_window_store_r11_guards(spark, tmp_path):
    """r10-advice hardening: (1) meta I/O is scheme-aware — a
    file:// URI exercises the Hadoop FileSystem branch end-to-end;
    (2) appending a schema-divergent batch (string doc ids onto a
    long-id store) raises instead of writing mixed-schema parquet;
    (3) probe hashes are case-normalized, so uppercase md5 hex finds
    the stored lowercase occurrences."""
    import os

    from babylon_data_loader_spark.operators.dedup import (
        append_token_windows,
        probe_token_windows,
        read_token_window_store,
        token_windows,
        write_token_window_store,
    )

    span = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(0, span + " a1 a2"), (1, span + " b1 b2")],
        "doc_id BIGINT, text STRING",
    )

    # (1) scheme path: write + append + read through file:// URIs
    uri = "file://" + os.path.join(str(tmp_path), "tokwin_uri")
    write_token_window_store(docs.where("doc_id = 0"), uri)
    append_token_windows(docs.where("doc_id = 1"), uri)
    got, meta = read_token_window_store(spark, uri)
    assert meta["prefix_chars"] == 1
    want = sorted(
        (r["_id"], r["_pos"], r["_h"])
        for r in token_windows(docs).collect()
    )
    assert (
        sorted(
            (r["_id"], r["_pos"], r["_h"])
            for r in got.select("_id", "_pos", "_h").collect()
        )
        == want
    )

    # (3) uppercase probe hashes match the stored lowercase hex
    h = [
        r["_h"].upper()
        for r in token_windows(docs).where("_id = 0 and _pos = 0").collect()
    ]
    hits = probe_token_windows(spark, uri, h)
    assert {(r["_id"], r["_pos"]) for r in hits.collect()} == {
        (0, 0),
        (1, 0),
    }

    # (2) divergent batch schema refused before any file lands
    bad = spark.createDataFrame(
        [("s1", span + " c1 c2")], "doc_id STRING, text STRING"
    )
    files_before = set(got.inputFiles())
    with pytest.raises(ValueError, match="schema mismatch"):
        append_token_windows(bad, uri)
    got2, _ = read_token_window_store(spark, uri)
    assert set(got2.inputFiles()) == files_before
