"""Planted-fixture semantics for the round-11 queries: the
incremental owner-keep strip's two ownership rules (corpus owns
known spans; batch-internal dups keep the minimal occurrence) and
the concurrent MERGE stress's transactional invariants —
independently of the DuckDB oracle comparison."""

from __future__ import annotations

import hashlib
import os

import pytest

import babylon_data_loader_spark.queries as Q

DOC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT"
)


@pytest.fixture(scope="module", autouse=True)
def _load():
    Q.load_all()


def _write(spark, tmp_path, docs):
    sf = os.path.join(str(tmp_path), "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs], DOC_SCHEMA
    ).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


_SPAN20 = " ".join(f"w{i}" for i in range(20))
_OTHER20 = " ".join(f"u{i}" for i in range(20))


def test_incremental_strip_corpus_owns_known_spans(spark, tmp_path):
    # doc_id%23==0 is the batch; everything else is corpus. Batch doc
    # 0 repeats the corpus doc's text -> fully stripped; batch doc 23
    # is fresh -> survives untouched. The corpus doc itself is NOT in
    # the output (the incremental strip never touches stored docs).
    docs = [
        (0, _SPAN20, "en", "s1"),     # batch, duplicates corpus
        (1, _SPAN20, "en", "s2"),     # corpus owner
        (23, _OTHER20, "en", "s3"),   # batch, fresh
    ]
    sf = _write(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in Q.QUERIES["q_incremental_strip_owner"](
            spark, sf
        ).collect()
    }
    assert set(out) == {0, 23}
    assert out[0]["n_after"] == 0 and out[0]["digest"] is None
    assert out[23]["n_after"] == 20
    assert (
        out[23]["digest"]
        == hashlib.md5(_OTHER20.encode()).hexdigest()
    )


def test_incremental_strip_batch_internal_owner(spark, tmp_path):
    # the duplicated span exists ONLY inside the batch: minimal
    # doc_id owns it and survives; the later batch copy is stripped.
    docs = [
        (0, _SPAN20, "en", "s1"),    # batch owner (min doc_id)
        (1, _OTHER20, "en", "s2"),   # corpus, unrelated
        (46, _SPAN20, "en", "s3"),   # batch loser
    ]
    sf = _write(spark, tmp_path, docs)
    out = {
        r["doc_id"]: r
        for r in Q.QUERIES["q_incremental_strip_owner"](
            spark, sf
        ).collect()
    }
    assert set(out) == {0, 46}
    assert out[0]["n_after"] == 20  # owner copy survives
    assert out[46]["n_after"] == 0


def test_merge_concurrent_stress_invariants(spark):
    # runs the real two-writer race against sf0.001; the query
    # RAISES internally unless exactly 7 versions committed, no
    # claim files leak, and the key population is conserved — here
    # we additionally pin that updates actually landed.
    out = Q.QUERIES["q_merge_concurrent_stress"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out
    assert sum(r["n_updated"] for r in out) > 0
    assert all(r["n_rows"] >= r["n_users"] for r in out)


def test_decontaminate_planted_overlap(spark, tmp_path):
    # Eval slice is doc_id%13==0: doc 0 carries the 4-gram
    # "a b c d"; doc 13 is a sub-4-token doc whose whole text is its
    # one fallback gram. Train doc 1 repeats eval's 4-gram inside
    # fresh context (1 of its 4 distinct grams overlaps -> rate
    # 0.25); train doc 3 equals the short eval doc (fallback gram
    # matches -> rate 1.0); train doc 2 shares nothing and must be
    # absent from the report.
    sf = _write(
        spark,
        tmp_path,
        [
            (0, "a b c d e f", "en", "s1"),
            (13, "zz", "en", "s1"),
            (1, "x y a b c d q", "en", "s2"),
            (2, "p q r s t", "en", "s2"),
            (3, "zz", "en", "s2"),
        ],
    )
    rows = sorted(
        Q.QUERIES["q_decontaminate"](spark, sf).collect(),
        key=lambda r: r.doc_id,
    )
    assert [
        (r.doc_id, r.n_grams, r.n_eval_grams, r.eval_gram_rate)
        for r in rows
    ] == [(1, 4, 1, 0.25), (3, 1, 1, 1.0)]


def test_decontaminate_matches_bruteforce_reference(spark, tmp_path):
    """Randomized pin of the decontamination report: for a seeded
    60-doc corpus over a 4-word vocabulary (lengths 1-12 tokens, so
    both the stride-1 4-gram path and the whole-doc fallback fire,
    and cross-doc overlap is common), the per-doc distinct-gram
    census must equal a brute-force set-arithmetic reference. All
    docs ride ONE corpus / ONE query run."""
    import random

    rng = random.Random(1187)
    vocab = [f"w{i}" for i in range(4)]
    docs, toks_by_id = [], {}
    for i in range(60):
        toks = [
            rng.choice(vocab) for _ in range(rng.randint(1, 12))
        ]
        toks_by_id[i] = toks
        docs.append((i, " ".join(toks), "en", f"s{i % 3}"))

    def gram_set(toks):
        if len(toks) >= 4:
            return {
                " ".join(toks[j : j + 4])
                for j in range(len(toks) - 3)
            }
        return {" ".join(toks)}

    eval_grams = set()
    for i, toks in toks_by_id.items():
        if i % 13 == 0:
            eval_grams |= gram_set(toks)
    want = {}
    for i, toks in toks_by_id.items():
        if i % 13 == 0:
            continue
        g = gram_set(toks)
        hits = len(g & eval_grams)
        if hits:
            want[i] = (len(g), hits, hits / len(g))

    sf = _write(spark, tmp_path, docs)
    got = {
        r.doc_id: (r.n_grams, r.n_eval_grams, r.eval_gram_rate)
        for r in Q.QUERIES["q_decontaminate"](spark, sf).collect()
    }
    assert got == want
    assert len(want) >= 5  # the seed must exercise real overlap


def test_incremental_decontaminate_batch_only_and_store_reuse(
    spark, tmp_path
):
    # Batch = doc_id%23==0 (ids 0, 23, 46); eval suite = corpus docs
    # with doc_id%3==0 (ids 3, 6). Batch doc 0 repeats eval's 4-gram
    # inside fresh context (rate 0.25); batch doc 46 equals the short
    # eval doc 6 (fallback gram, rate 1.0); batch doc 23 is clean ->
    # absent. Corpus doc 1 ALSO carries the eval gram but must not
    # appear: only the admission batch is probed. A second run in the
    # same session must HIT the at-rest eval-gram index, not rebuild.
    from babylon_data_loader_spark.operators.index_store import (
        ACCESS_LOG,
    )

    sf = _write(
        spark,
        tmp_path,
        [
            (3, "a b c d e f", "en", "s1"),
            (6, "zz", "en", "s1"),
            (0, "x y a b c d z", "en", "s2"),
            (23, "p q r s t", "en", "s2"),
            (46, "zz", "en", "s2"),
            (1, "a b c d q q q", "en", "s3"),
        ],
    )
    fn = Q.QUERIES["q_incremental_decontaminate"]
    rows = sorted(
        fn(spark, sf).collect(), key=lambda r: r.doc_id
    )
    assert [
        (r.doc_id, r.n_grams, r.n_eval_grams, r.eval_gram_rate)
        for r in rows
    ] == [(0, 4, 1, 0.25), (46, 1, 1, 1.0)]

    before = len(ACCESS_LOG)
    rows2 = sorted(
        fn(spark, sf).collect(), key=lambda r: r.doc_id
    )
    assert [tuple(r) for r in rows2] == [tuple(r) for r in rows]
    evalg = [
        e
        for e in ACCESS_LOG[before:]
        if e["kind"] == "evalgrams"
    ]
    assert evalg and all(e["hit"] for e in evalg)


def test_contamination_report_custom_columns(spark, monkeypatch):
    # The operator works off the documents schema named by its
    # DOC_ID_COL/DOC_TEXT_COL constants, eval predicate over a non-id
    # column.
    from babylon_data_loader_spark.operators import decontaminate
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )
    from pyspark.sql import functions as F

    monkeypatch.setattr(decontaminate, "DOC_ID_COL", "rec_id")
    monkeypatch.setattr(decontaminate, "DOC_TEXT_COL", "body")

    df = spark.createDataFrame(
        [
            (10, "a b c d e", "eval"),
            (11, "z a b c d", "train"),
            (12, "p q r s t", "train"),
        ],
        "rec_id BIGINT, body STRING, split STRING",
    )
    rows = contamination_report(df, F.col("split") == "eval", n=4).collect()
    assert [
        (r.rec_id, r.n_grams, r.n_eval_grams, r.eval_gram_rate)
        for r in rows
    ] == [(11, 2, 1, 0.5)]


def test_contamination_normalization_case_whitespace(spark):
    # r11 ADVICE: contamination differing only in case or whitespace
    # must still be caught — grams come from tokens(lower(text))
    # (trim + lowercase + \s+ split), the ExactSubstr convention.
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (0, "  The   Quick\tBrown FOX jumps ", "eval"),
            (1, "z the quick brown fox y", "train"),
            (2, "p q r s t", "train"),
        ],
        "doc_id BIGINT, text STRING, split STRING",
    )
    rows = contamination_report(
        df, F.col("split") == "eval", n=4
    ).collect()
    assert [
        (r.doc_id, r.n_grams, r.n_eval_grams) for r in rows
    ] == [(1, 3, 1)]


def test_contamination_broadcast_guard_paths_identical(spark, monkeypatch):
    # The broadcast hint is size-guarded: forcing the fallback
    # (BROADCAST_MAX_ROWS 0 -> hash-partitioned join on h) must produce
    # the exact same census as the broadcast path.
    from babylon_data_loader_spark.operators import decontaminate
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(9)), "t")
            for i in range(40)
        ]
        + [(100, "w0 w1 w2 w3 w4 w5", "e")],
        "doc_id BIGINT, text STRING, split STRING",
    )
    pred = F.col("split") == "e"
    via_bcast = sorted(
        tuple(r)
        for r in contamination_report(df, pred, n=4).collect()
    )
    monkeypatch.setattr(decontaminate, "BROADCAST_MAX_ROWS", 0)
    via_shuffle = sorted(
        tuple(r) for r in contamination_report(df, pred, n=4).collect()
    )
    assert via_bcast == via_shuffle and via_bcast


def test_contamination_reserved_column_collision_raises(spark):
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
        gram_hashes,
    )
    from pyspark.sql import functions as F

    clash = spark.createDataFrame(
        [(0, "a b c d", True)],
        "doc_id BIGINT, text STRING, __decon_is_eval BOOLEAN",
    )
    with pytest.raises(ValueError, match="__decon_is_eval"):
        contamination_report(clash, F.lit(True))
    hframe = spark.createDataFrame(
        [("a b c d", 0)], "text STRING, h BIGINT"
    )
    with pytest.raises(ValueError, match="'h'"):
        gram_hashes(hframe, id_col="h")
