"""Edge tests for the round-4 wave queries: containment short-doc
fallback, Bloom-confirmed incremental dedup vs the plain anti-join,
and hard-negative label exclusion."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_incremental_dedup_equals_plain_antijoin(spark, monkeypatch):
    """The Bloom prefilter + exact confirm must produce EXACTLY the
    rows a plain anti-join keeps — false positives die in the confirm
    join, false negatives are impossible (Bloom has none)."""
    from babylon_data_loader_spark.operators import sketch_join
    from babylon_data_loader_spark.operators.sketch_join import (
        bloom_prefilter,
    )

    monkeypatch.setattr(sketch_join, "PREFILTER_BITS", 1 << 10)
    rows = [(i, f"text-{i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, "id BIGINT, fp STRING")
    corpus = df.filter(F.col("id") % 2 == 0)
    batch = df.filter(F.col("id") % 2 == 1)

    maybe = bloom_prefilter(batch, corpus, "fp", "fp")
    confirmed = maybe.join(
        corpus.select("fp").distinct(), on="fp", how="left_semi"
    )
    kept_bloom = {
        r["id"]
        for r in batch.join(
            confirmed.select("id"), on="id", how="left_anti"
        ).collect()
    }
    kept_plain = {
        r["id"]
        for r in batch.join(
            corpus.select("fp").distinct(), on="fp", how="left_anti"
        ).collect()
    }
    assert kept_bloom == kept_plain


def test_containment_short_doc_single_shingle(spark):
    """Docs under 3 tokens collapse to one whole-text shingle; two
    identical 2-token docs must reach containment 1.0."""
    from babylon_data_loader_spark.queries.round4b import (
        q_containment_pairs,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["tiny doc", "tiny doc", "completely different text here"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [8, 8, 30],
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            d + "/documents.parquet"
        )
        out = q_containment_pairs.__wrapped__(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in out] == [
        (1, 2, 1.0)
    ]


def test_hard_negatives_excludes_anchor_label(spark, tmp_path):
    from babylon_data_loader_spark.queries.vectors import (
        q_hard_negatives,
    )

    rows = [
        (
            i,
            [float((1 + i) * (j == i % 4)) + 0.01 for j in range(4)],
            i % 2,
        )
        for i in range(12)
    ]
    path = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).write.mode("overwrite").parquet(path + "/embeddings.parquet")
    out = q_hard_negatives.__wrapped__(spark, path).collect()
    anchor_label = 0  # vec_id 0 -> label 0
    assert len(out) == 5
    assert all(r["label"] != anchor_label for r in out)
