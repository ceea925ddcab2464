"""Round-13 pins: the r12 ADVICE fixes (resolve-order tiebreak,
reserved row-number column, plan-stats broadcast guard, store
partition-type roundtrip, retired-params sweep) and the merge claim
protocol's liveness witness (r12 VERDICT ask #5)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from babylon_data_loader_spark.operators.tx_lake import (
    RESOLVE_RN,
    TransactionalLake,
)

KEY = ["k"]


def frame(spark, rows, schema="k BIGINT, v STRING, data_source STRING"):
    return spark.createDataFrame(rows, schema)


def state(spark, lake):
    return sorted(tuple(r) for r in lake.read(spark).collect())


# ---------------------------------------------------------------------------
# resolve-by-total-order: deterministic trailing tiebreak (ADVICE #1)
# ---------------------------------------------------------------------------


def test_merge_order_cols_tie_broken_deterministically(spark, tmp_path):
    """Two divergent rows for one key that TIE on order_cols must
    resolve to the same survivor regardless of delivery order: the
    trailing all-remaining-columns tiebreak totally orders them, so
    the state stays a pure function of the set of rows delivered."""
    rows_a = [(1, "alpha", "chase")]
    rows_b = [(1, "zeta", "chase")]
    schema = "k BIGINT, v STRING, data_source STRING, prio BIGINT"
    finals = []
    for order in ((rows_a, rows_b), (rows_b, rows_a)):
        lake = TransactionalLake(
            str(tmp_path / f"lake_{len(finals)}")
        )
        for rows in order:
            lake.merge(
                spark,
                spark.createDataFrame(
                    [(*r, 7) for r in rows], schema
                ),
                KEY,
                order_cols=["prio"],  # ties: both rows have prio=7
            )
        finals.append(state(spark, lake))
    assert finals[0] == finals[1]
    # max under the trailing (v DESC) tiebreak; the partition column
    # reads back last
    assert finals[0] == [(1, "zeta", 7, "chase")]


def test_merge_preserves_real_rn_column(spark, tmp_path):
    """A lake with an ordinary column literally named `_rn` must merge
    intact under order_cols — the working column is the reserved
    RESOLVE_RN name, not `_rn` (r12 ADVICE: withColumn('_rn')
    silently replaced and then dropped the real column)."""
    schema = "k BIGINT, v STRING, data_source STRING, _rn BIGINT"
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(
        spark,
        spark.createDataFrame([(1, "a", "chase", 41)], schema),
        KEY,
        order_cols=["v"],
    )
    lake.merge(
        spark,
        spark.createDataFrame([(1, "b", "chase", 42)], schema),
        KEY,
        order_cols=["v"],
    )
    out = lake.read(spark)
    assert "_rn" in out.columns
    assert [
        (r["k"], r["v"], r["data_source"], r["_rn"])
        for r in out.collect()
    ] == [(1, "b", "chase", 42)]


def test_merge_reserved_rn_collision_raises(spark, tmp_path):
    from babylon_data_loader_spark.operators.merge import dedup_latest

    schema = f"k BIGINT, v STRING, data_source STRING, {RESOLVE_RN} BIGINT"
    bad = spark.createDataFrame([(1, "a", "chase", 0)], schema)
    with pytest.raises(ValueError, match=RESOLVE_RN):
        dedup_latest(bad, KEY)
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, bad.drop(RESOLVE_RN), KEY, order_cols=["v"])
    with pytest.raises(ValueError, match=RESOLVE_RN):
        lake.merge(spark, bad, KEY, order_cols=["v"])


def test_dedup_latest_keeps_real_rn_column(spark):
    from babylon_data_loader_spark.operators.merge import dedup_latest

    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20)], "k BIGINT, v STRING, _rn BIGINT"
    )
    out = dedup_latest(df, KEY, order_cols=["v"])
    assert out.columns == ["k", "v", "_rn"]
    assert [tuple(r) for r in out.collect()] == [(1, "b", 20)]


# ---------------------------------------------------------------------------
# contamination census: no job at plan-construction time (ADVICE #3)
# ---------------------------------------------------------------------------


def test_contamination_report_runs_no_job_at_construction(spark):
    """Building the census frame is plan-only for bare library
    callers: the broadcast guard reads Catalyst statistics, never an
    eager count (r12 ADVICE). Pinned via a job group: no Spark job
    may run between entry and return."""
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3} w{i + 4}") for i in range(30)],
        "doc_id BIGINT, text STRING",
    )
    sc = spark.sparkContext
    sc.setJobGroup("census-construction", "must stay empty")
    try:
        frame_ = contamination_report(docs, F.col("doc_id") % 5 == 0)
        jobs = sc.statusTracker().getJobIdsForGroup(
            "census-construction"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"census construction ran Spark jobs: {jobs}"
    # and the frame still evaluates correctly afterwards
    assert frame_.count() > 0


def test_plan_size_estimate_known_and_unknown(spark, sf_dir):
    from babylon_data_loader_spark.operators.decontaminate import (
        _plan_size_estimate,
    )
    from babylon_data_loader_spark.schemas import load_table

    sized = _plan_size_estimate(
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    assert sized is not None and sized > 0
    # RDD-backed frames carry the unknown-stats sentinel -> None
    rdd_frame = spark.createDataFrame(
        spark.sparkContext.parallelize([(1,)]), "a BIGINT"
    )
    assert _plan_size_estimate(rdd_frame) is None


# ---------------------------------------------------------------------------
# index store: partition-type roundtrip
# (ADVICE #4)
# ---------------------------------------------------------------------------


def test_store_partition_column_type_roundtrip(spark, tmp_path):
    """Both return paths of get_or_build_parquet must agree on the
    partition column's dtype: cold build, warm store hit, and the
    no-lineage fallback all yield the WRITTEN type (bigint), not the
    read-time re-inferred one (int)."""
    import shutil

    from babylon_data_loader_spark.operators.index_store import (
        get_or_build_parquet,
        warehouse_dir,
    )
    from babylon_data_loader_spark.schemas import load_table

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        d / "embeddings.parquet",
    )
    emb = load_table(spark, str(d), "embeddings")

    def build():
        return emb.select(
            "vec_id", (F.col("vec_id") % 4).cast("bigint").alias("bkt")
        )

    def typed(df):
        return dict(df.dtypes)["bkt"]

    try:
        cold = get_or_build_parquet(
            emb, "ptt", "v1", build, partition_by=("bkt",)
        )
        assert typed(cold) == "bigint"
        warm = get_or_build_parquet(
            emb, "ptt", "v1", build, partition_by=("bkt",)
        )
        assert typed(warm) == "bigint"
        assert typed(build()) == "bigint"  # fallback path reference
        assert sorted(
            tuple(r) for r in warm.collect()
        ) == sorted(tuple(r) for r in build().collect())
    finally:
        for e in os.listdir(warehouse_dir(spark)):
            if e.startswith("idx_ptt_"):
                shutil.rmtree(
                    os.path.join(warehouse_dir(spark), e),
                    ignore_errors=True,
                )


# ---------------------------------------------------------------------------
# merge claim protocol liveness witness (r12 VERDICT ask #5)
# ---------------------------------------------------------------------------


def test_merge_claim_liveness_under_contention(spark, tmp_path, monkeypatch):
    """N=4 writers x M=2 commits each, all racing: every commit must
    eventually land (no retry-budget exhaustion — the r12 starvation
    bug), the version advances exactly N*M times, and the TOTAL claim
    attempts stay bounded (each loss costs one attempt; with linear
    backoff a loser re-reads fresh state, so attempts can't spiral).
    This is the liveness complement to the 24-permutation
    interleaving-independence test: that one pins WHAT converges,
    this one pins THAT it converges under real thread contention."""
    attempts = []  # list-append is atomic under the GIL
    orig = TransactionalLake._claim_and_commit

    def counting(self, manifest):
        attempts.append(1)
        return orig(self, manifest)

    monkeypatch.setattr(
        TransactionalLake, "_claim_and_commit", counting
    )

    path = str(tmp_path / "lake")
    seed = TransactionalLake(path)
    seed.merge(spark, frame(spark, [(0, "seed", "chase")]), KEY)

    n_writers, m_commits = 4, 2
    errors: list[Exception] = []

    def writer(w: int):
        try:
            for c in range(m_commits):
                TransactionalLake(path).merge(
                    spark,
                    frame(spark, [(100 * w + c, f"w{w}c{c}", "chase")]),
                    KEY,
                    max_retries=25,
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(1, n_writers + 1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors

    total = n_writers * m_commits
    lake = TransactionalLake(path)
    assert lake.current_manifest()["version"] == 1 + total
    got = state(spark, lake)
    want = sorted(
        [(0, "seed", "chase")]
        + [
            (100 * w + c, f"w{w}c{c}", "chase")
            for w in range(1, n_writers + 1)
            for c in range(m_commits)
        ]
    )
    assert got == want
    # liveness bound: 1 + N*M winning attempts, plus at most one
    # losing attempt per concurrently-committed opponent; N*M*N is a
    # generous ceiling far below the retry-exhaustion regime.
    assert len(attempts) <= (1 + total) + total * n_writers, len(attempts)


# ---------------------------------------------------------------------------
# q_language_gate: planted fixture where all three stages fire
# ---------------------------------------------------------------------------


def test_language_gate_all_three_stages_fire(spark):
    """Fixture engineered so (1) a cross-lingual near-dup loses its
    larger-id copy, (2) the head language (en, ~90% of tokens) is cut
    by the 20% anti-dominance cap, and (3) the tail language (de,
    under the cap) is admitted in full."""
    from babylon_data_loader_spark.queries.round13 import language_gate

    rows = [
        # en: 20 docs x 4 distinct tokens = 80 tokens
        (i, "en", f"en{i}a en{i}b en{i}c en{i}d") for i in range(20)
    ]
    # fr: exact copy of doc 0's text -> cross-lingual near-dup; the
    # larger doc_id (100) is the loser
    rows.append((100, "fr", "en0a en0b en0c en0d"))
    # de: 3 docs x 3 tokens = 9 tokens (under the cap)
    rows += [
        (200 + i, "de", f"de{i}x de{i}y de{i}z") for i in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, text STRING"
    )
    got = [tuple(r) for r in language_gate(docs).collect()]
    # retained: en 80 + de 9 = 89 tokens; cap = 89 div 5 = 17
    want = [
        ("de", 200, 3, 3, 17, 9, 24, 1),
        ("de", 201, 3, 6, 17, 9, 24, 1),
        ("de", 202, 3, 9, 17, 9, 24, 1),
        ("en", 0, 4, 4, 17, 80, 24, 1),
        ("en", 1, 4, 8, 17, 80, 24, 1),
        ("en", 2, 4, 12, 17, 80, 24, 1),
        ("en", 3, 4, 16, 17, 80, 24, 1),
    ]
    assert got == want
    # stage witnesses: the fr loser is gone, en is cut at the cap,
    # de is complete
    langs = {r[0] for r in got}
    assert "fr" not in langs
    assert sum(1 for r in got if r[0] == "en") == 4  # 5th doc cut
    assert sum(1 for r in got if r[0] == "de") == 3  # full


def test_contamination_report_id_pred_is_zero_join_on_store(spark, sf_dir):
    """An eval predicate referencing only doc_id is evaluated
    directly on the token-store frame: the report's plan carries
    exactly ONE join (the train-vs-eval census join), not an extra
    id-keyed flags join shuffling corpus token arrays."""
    from babylon_data_loader_spark.operators.decontaminate import (
        contamination_report,
    )
    from babylon_data_loader_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    rep = contamination_report(docs, F.col("doc_id") % 13 == 0, n=4)
    plan = rep._sc._jvm.PythonSQLUtils.explainString(
        rep._jdf.queryExecution(), "formatted"
    )
    joins = [
        ln for ln in plan.splitlines()
        if ") Broadcast" in ln and "Join" in ln
        or ") SortMergeJoin" in ln
        or ") ShuffledHashJoin" in ln
    ]
    assert len(joins) == 1, joins
    # a non-id predicate takes the flags-join path: the flags join
    # appears under BOTH census branches (train + eval) plus the
    # census join itself — strictly more joins than the pushed path
    rep2 = contamination_report(docs, F.col("source") == "s0", n=4)
    plan2 = rep2._sc._jvm.PythonSQLUtils.explainString(
        rep2._jdf.queryExecution(), "formatted"
    )
    joins2 = [
        ln for ln in plan2.splitlines()
        if ") Broadcast" in ln and "Join" in ln
        or ") SortMergeJoin" in ln
        or ") ShuffledHashJoin" in ln
    ]
    assert len(joins2) > 1, joins2


# ---------------------------------------------------------------------------
# shared token store: derivation identity + fallback equivalence
# ---------------------------------------------------------------------------


def test_norm_token_store_matches_inline_derivation(spark, sf_dir):
    """The at-rest store's token arrays are byte-identical to the
    inline tokens(lower(text)) derivation — cold build, warm hit, and
    the no-lineage fallback all agree."""
    from babylon_data_loader_spark.functions.text import tokens
    from babylon_data_loader_spark.operators.index_store import (
        stored_norm_tokens,
    )
    from babylon_data_loader_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents")
    inline = sorted(
        (r["doc_id"], tuple(r["tok"]))
        for r in docs.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("tok")
        ).collect()
    )
    stored = sorted(
        (r["doc_id"], tuple(r["tok"]))
        for r in stored_norm_tokens(docs).collect()
    )
    assert stored == inline
    # no-lineage fallback: same rows straight from the inline path
    mem = spark.createDataFrame(
        docs.limit(20).collect(), schema=docs.schema
    )
    fb = sorted(
        (r["doc_id"], tuple(r["tok"]))
        for r in stored_norm_tokens(mem).collect()
    )
    want = dict(inline)
    assert all(want[i] == t for i, t in fb) and len(fb) == 20


def test_merge_total_order_commutes_over_all_delivery_orders(
    spark, tmp_path
):
    """Resolve-by-total-order with the trailing tiebreak: THREE
    batches carrying divergent and tying rows for overlapping keys
    converge to one state under all 6 delivery orders."""
    import itertools

    schema = "k BIGINT, v STRING, data_source STRING, prio BIGINT"
    batches = [
        [(1, "a", "chase", 7), (2, "x", "chase", 1)],
        [(1, "b", "chase", 7), (3, "m", "chase", 5)],
        [(2, "y", "chase", 1), (3, "n", "chase", 9)],
    ]
    finals = []
    for i, perm in enumerate(itertools.permutations(range(3))):
        lake = TransactionalLake(str(tmp_path / f"lake_{i}"))
        for b in perm:
            lake.merge(
                spark,
                spark.createDataFrame(batches[b], schema),
                KEY,
                order_cols=["prio"],
            )
        finals.append(state(spark, lake))
    assert all(f == finals[0] for f in finals), finals
    # key 1 ties on prio -> trailing v DESC picks "b"; key 2 ties ->
    # "y"; key 3 ordered by prio -> "n"
    assert finals[0] == [
        (1, "b", 7, "chase"),
        (2, "y", 1, "chase"),
        (3, "n", 9, "chase"),
    ]


def test_language_gate_language_fully_lost_disappears(spark):
    """A language whose only doc is a cross-lingual loser vanishes
    from the output entirely (no zero-token row, no cap row), and its
    tokens are excluded from the budget total."""
    from babylon_data_loader_spark.queries.round13 import language_gate

    rows = [
        (i, "en", f"e{i}a e{i}b e{i}c e{i}d") for i in range(5)
    ]  # 20 en tokens
    rows.append((100, "fr", "e0a e0b e0c e0d"))  # fr's ONLY doc loses
    docs = spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, text STRING"
    )
    got = [tuple(r) for r in language_gate(docs).collect()]
    # retained total = 20 -> cap = 4 -> en admits only doc 0
    assert got == [("en", 0, 4, 4, 4, 20, 6, 1)]
