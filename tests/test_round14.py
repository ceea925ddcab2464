"""Round-14 pins: the r13 ADVICE fixes (norm-token store keyed by the
derived columns, schema-order-independent merge tiebreak, MapType
columns excluded from the tiebreak) and the r13 VERDICT asks
(store-backed prefix-scan boundaries, IVF/k-means family stores,
store-miss fallback plan shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from babylon_data_loader_spark.operators.tx_lake import (
    TransactionalLake,
    _orderable,
)

KEY = ["k"]


def _state(spark, lake):
    # name-keyed: the stored schema ORDER follows the last batch's
    # projection order (schema evolution), which is allowed to differ
    # — the guarantee under test is the same ROWS, not the same order
    return sorted(
        tuple(sorted(r.asDict().items()))
        for r in lake.read(spark).collect()
    )


# ---------------------------------------------------------------------------
# merge trailing tiebreak: schema-order independent (r13 ADVICE #2)
# ---------------------------------------------------------------------------


def test_merge_tiebreak_independent_of_batch_column_order(
    spark, tmp_path
):
    """Two writers delivering the same divergent tie rows with
    DIFFERENT batch column orders must converge to one state: the
    trailing tiebreak is name-sorted, not unioned.columns-ordered
    (unionByName puts the batch's order first, so the old
    columns-order tiebreak resolved (v, w) ties differently when one
    writer's frame was (w, v))."""
    schema = "k BIGINT, v STRING, w STRING, data_source STRING, prio BIGINT"
    # tie on prio; v favors row A under DESC, w favors row B — which
    # column leads the trailing order decides the survivor.
    row_a = (1, "zz", "aa", "chase", 7)
    row_b = (1, "aa", "zz", "chase", 7)
    finals = []
    for flip in (False, True):
        lake = TransactionalLake(str(tmp_path / f"lake_{flip}"))
        first = spark.createDataFrame([row_a], schema)
        second = spark.createDataFrame([row_b], schema)
        if flip:
            # same columns, reversed projection order in the batch
            cols = ["prio", "data_source", "w", "v", "k"]
            second = second.select(*cols)
        lake.merge(spark, first, KEY, order_cols=["prio"])
        lake.merge(spark, second, KEY, order_cols=["prio"])
        finals.append(_state(spark, lake))
    assert finals[0] == finals[1]
    # name-sorted trailing order is (v, w): v DESC picks row A
    assert finals[0] == [
        tuple(
            sorted(
                {
                    "k": 1,
                    "v": "zz",
                    "w": "aa",
                    "data_source": "chase",
                    "prio": 7,
                }.items()
            )
        )
    ]


def test_merge_order_cols_tolerates_map_column(spark, tmp_path):
    """A lake carrying a MapType column must still merge under
    order_cols: maps are not orderable in Spark, so they are skipped
    in the trailing tiebreak instead of raising AnalysisException.
    Survivorship still resolves via the orderable columns."""
    schema = (
        "k BIGINT, v STRING, tags MAP<STRING, STRING>, "
        "data_source STRING"
    )
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(
        spark,
        spark.createDataFrame([(1, "a", {"t": "1"}, "chase")], schema),
        KEY,
        order_cols=["v"],
    )
    lake.merge(
        spark,
        spark.createDataFrame([(1, "b", {"t": "2"}, "chase")], schema),
        KEY,
        order_cols=["v"],
    )
    rows = lake.read(spark).collect()
    assert len(rows) == 1
    assert rows[0]["v"] == "b"
    assert dict(rows[0]["tags"]) == {"t": "2"}


def test_orderable_type_predicate():
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    assert _orderable(LongType())
    assert _orderable(ArrayType(StringType()))
    assert not _orderable(MapType(StringType(), LongType()))
    assert not _orderable(ArrayType(MapType(StringType(), LongType())))
    assert not _orderable(
        StructType(
            [StructField("m", MapType(StringType(), LongType()))]
        )
    )
    assert _orderable(StructType([StructField("s", StringType())]))


# ---------------------------------------------------------------------------
# norm-token store: params key covers the derived columns (ADVICE #1)
# ---------------------------------------------------------------------------


def test_norm_token_store_keys_on_text_col(spark, tmp_path):
    """Two stored_norm_tokens calls over the SAME source frame with
    different text_col must not alias onto one store directory — the
    r13 'lw' key ignored the derivation columns, so the second caller
    silently read tokens of the wrong column."""
    from babylon_data_loader_spark.operators.index_store import (
        stored_norm_tokens,
    )

    path = str(tmp_path / "two_text_cols")
    spark.createDataFrame(
        [(1, "Alpha beta", "one two three"), (2, "Gamma", "four")],
        "doc_id BIGINT, text STRING, alt STRING",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    from_text = {
        r["doc_id"]: list(r["tok"])
        for r in stored_norm_tokens(docs, text_col="text").collect()
    }
    from_alt = {
        r["doc_id"]: list(r["tok"])
        for r in stored_norm_tokens(docs, text_col="alt").collect()
    }
    assert from_text == {1: ["alpha", "beta"], 2: ["gamma"]}
    assert from_alt == {1: ["one", "two", "three"], 2: ["four"]}


# ---------------------------------------------------------------------------
# prefix-scan range store: boundary identity + fallback parity (asks #3, #6)
# ---------------------------------------------------------------------------


def _scan_fixture(spark, tmp_path):
    path = str(tmp_path / "scan_rows")
    spark.range(500).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 7 % 101).alias("v"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_ranged_store_boundary_identity(spark, tmp_path):
    """Same data + order spec ⇒ the SAME stored ranged frame and
    byte-identical offsets: the second grouped_running_totals call
    must hit the at-rest range store (no re-sample, no totals
    aggregation job — the totals come back from the sidecar) and
    return exactly the first call's rows. The in-memory fallback path
    (no file lineage → tracked persist) must agree on values."""
    import os

    from babylon_data_loader_spark.operators.index_store import (
        ACCESS_LOG,
    )
    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals,
    )

    df = _scan_fixture(spark, tmp_path)
    order = [F.col("v").asc(), F.col("id").asc()]

    def run(frame):
        return sorted(
            tuple(r)
            for r in grouped_running_totals(
                frame, ["grp"], order, {"run_v": F.col("v")}
            ).collect()
        )

    del ACCESS_LOG[:]
    first = run(df)
    builds = [a for a in ACCESS_LOG if a["kind"] == "ranged"]
    assert builds and builds[0]["hit"] is False
    del ACCESS_LOG[:]
    second = run(df)
    hits = [a for a in ACCESS_LOG if a["kind"] == "ranged"]
    assert hits and all(a["hit"] for a in hits)
    assert first == second
    # the totals sidecar was written inside the ranged store dir
    from babylon_data_loader_spark.operators.index_store import (
        df_fingerprint,
        warehouse_dir,
    )

    fp = df_fingerprint(df)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # locate the store dir by prefix (params embeds the order hash)
    import glob

    wh_dirs = glob.glob(
        os.path.join(warehouse_dir(spark), f"idx_ranged_{fp}_n{n}o*")
    )
    assert wh_dirs, "ranged store dir not found"
    sidecars = glob.glob(os.path.join(wh_dirs[0], "_totals_*"))
    assert sidecars, "totals sidecar not written"
    # fallback path (no lineage): identical values
    mem = spark.createDataFrame(df.collect(), df.schema)
    assert run(mem) == first


def test_ranged_store_distinct_per_alias_schema(spark, tmp_path):
    """Plan CANONICALIZATION erases alias names, so two frames over
    the same data differing only in a column alias share a
    fingerprint — the ranged store key must fold in the schema or
    the second caller reads the first's column names (r14: the full
    suite hit this as q_sketch_quantiles failing to resolve `cnt`
    against a sibling lane's stored `c`)."""
    from babylon_data_loader_spark.operators.rank import (
        running_totals,
    )

    df = _scan_fixture(spark, tmp_path)

    def agg_as(name):
        return df.groupBy("grp").agg(F.count(F.lit(1)).alias(name))

    order = [F.col("grp").asc()]
    first = sorted(
        tuple(r)
        for r in running_totals(
            agg_as("c"), order, {"cum": F.col("c")}
        ).collect()
    )
    # pre-fix this raised UNRESOLVED_COLUMN `cnt` (store served the
    # `c`-schema parquet for the identical canonicalized plan)
    second = sorted(
        tuple(r)
        for r in running_totals(
            agg_as("cnt"), order, {"cum": F.col("cnt")}
        ).collect()
    )
    assert first == second


def test_ranged_store_and_fallback_plans_audit_clean(spark, tmp_path):
    """r13 VERDICT ask #6: the store-HIT plan and the no-lineage
    inline-FALLBACK plan of a store-backed scan must BOTH be free of
    scale anti-patterns (the fallback bypasses the stored pushed-down
    projection, and nothing previously pinned its shape)."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "audit_plans",
        _os.path.join(
            _os.path.dirname(__file__), "..", "scripts", "audit_plans.py"
        ),
    )
    ap = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ap)

    from babylon_data_loader_spark.operators.rank import (
        grouped_running_totals,
    )

    df = _scan_fixture(spark, tmp_path)
    order = [F.col("v").asc(), F.col("id").asc()]
    sums = {"run_v": F.col("v")}
    stored = grouped_running_totals(df, ["grp"], order, sums)
    mem = spark.createDataFrame(df.collect(), df.schema)
    fallback = grouped_running_totals(mem, ["grp"], order, sums)
    for variant, frame in (("store", stored), ("fallback", fallback)):
        findings = ap.audit_plan(
            f"q_rank_{variant}", ap.explain_formatted(frame)
        )
        assert findings == [], f"{variant}: {findings}"


# ---------------------------------------------------------------------------
# IVF / k-means at-rest stores (r13 VERDICT ask #2)
# ---------------------------------------------------------------------------


def _emb_fixture(spark, tmp_path):
    import math

    path = str(tmp_path / "emb")
    rows = [
        (i, [math.sin(i * 13 + d) for d in range(8)])
        for i in range(80)
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_det_assigned_store_matches_inline_and_hits(spark, tmp_path):
    """The stored IVF-Flat assignment must be value-identical to the
    inline quantize+assign derivation, and the second call must HIT
    the store (no rebuild)."""
    from babylon_data_loader_spark.operators.det_ann import (
        det_assigned_store,
        int_assign,
        quantize_vec,
    )
    from babylon_data_loader_spark.operators.index_store import (
        ACCESS_LOG,
    )
    from tests.fixtures import det_seed_codebook

    emb = _emb_fixture(spark, tmp_path)
    codebook = det_seed_codebook(emb, 4)
    assert len(codebook) == 4 and codebook[0][0] == 0

    del ACCESS_LOG[:]
    stored = det_assigned_store(emb, "t14", codebook)
    got = {
        r["vec_id"]: (int(r["cid"]), int(r["dist"]))
        for r in stored.collect()
    }
    inline = int_assign(
        emb.select(
            "vec_id", quantize_vec(F.col("embedding")).alias("q")
        ),
        "q",
        codebook,
    )
    want = {
        r["vec_id"]: (int(r["cid"]), int(r["dist"]))
        for r in inline.collect()
    }
    assert got == want
    first_access = [a for a in ACCESS_LOG if a["kind"] == "detasg"]
    assert first_access and first_access[0]["hit"] is False
    del ACCESS_LOG[:]
    again = det_assigned_store(emb, "t14", codebook)
    assert {
        r["vec_id"]: (int(r["cid"]), int(r["dist"]))
        for r in again.collect()
    } == want
    hits = [a for a in ACCESS_LOG if a["kind"] == "detasg"]
    assert hits and hits[0]["hit"] is True
    # a different codebook must key a DIFFERENT store (no aliasing)
    other = det_assigned_store(emb, "t14", codebook[:2])
    assert {int(r["cid"]) for r in other.collect()} <= {0, 1}


def test_lloyd_trajectory_store_deterministic_and_hits(
    spark, tmp_path
):
    """The trained-model store must return the same trajectory on a
    warm read as the fresh fit, with descent-plausible inertia and
    iter-1 shift count == N."""
    from babylon_data_loader_spark.operators.det_ann import (
        int_lloyd_trajectory_store,
    )
    from babylon_data_loader_spark.operators.index_store import (
        ACCESS_LOG,
    )

    emb = _emb_fixture(spark, tmp_path)
    del ACCESS_LOG[:]
    first = sorted(
        (int(r["iter"]), int(r["inertia"]), int(r["n_shifted"]))
        for r in int_lloyd_trajectory_store(
            emb, "t14", 4, 3, 8
        ).collect()
    )
    assert [it for it, _, _ in first] == [1, 2, 3]
    assert first[0][2] == 80  # iter 1: every vector newly assigned
    n = 80
    for prev, cur in zip(first, first[1:]):
        assert cur[1] <= prev[1] + 8 * n  # dim-scaled descent bound
    del ACCESS_LOG[:]
    second = sorted(
        (int(r["iter"]), int(r["inertia"]), int(r["n_shifted"]))
        for r in int_lloyd_trajectory_store(
            emb, "t14", 4, 3, 8
        ).collect()
    )
    assert second == first
    hits = [a for a in ACCESS_LOG if a["kind"] == "detlloyd"]
    assert hits and hits[0]["hit"] is True


# ---------------------------------------------------------------------------
# gram-index append + the two-wave incremental admission (ask #5)
# ---------------------------------------------------------------------------


def test_gram_index_append_matches_full_rebuild(spark, tmp_path):
    """write + append must leave the index probing EXACTLY like a
    fresh full build over (base ∪ shard): same DISTINCT h set."""
    from babylon_data_loader_spark.operators.decontaminate import (
        append_gram_index,
        gram_hashes,
        write_gram_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "alpha beta gamma delta zeta"),
        ],
        "doc_id BIGINT, text STRING",
    )
    path = str(tmp_path / "grams")
    write_gram_index(docs.where("doc_id < 3"), path)
    append_gram_index(docs.where("doc_id = 3"), path)
    maintained = {
        r["h"] for r in spark.read.parquet(path).collect()
    }
    fresh = {
        r["h"]
        for r in gram_hashes(docs, n=4).select("h").distinct().collect()
    }
    assert maintained == fresh
    # set-semantics contract: only h is stored, so a further append
    # may duplicate h values across files — the probed DISTINCT set
    # is what must stay exact
    bad = spark.createDataFrame(
        [(9, "x y z w v")], "doc_id INT, text STRING"
    )
    append_gram_index(bad, path)
    assert {
        r["h"] for r in spark.read.parquet(path).collect()
    } == fresh | {
        r["h"]
        for r in gram_hashes(bad, n=4).select("h").collect()
    }


def test_incremental_admission_planted_fixture(spark, tmp_path):
    """Planted two-wave lifecycle: wave-1 drop (eval-1 gram), wave-1
    strip (corpus-owned span), the between-wave appends, wave-2 strip
    against a span owned by a wave-1 ADMITTED doc (witnesses the
    window append) and wave-2 drop against the APPENDED eval shard
    (witnesses the gram append)."""
    from babylon_data_loader_spark.queries.round14 import (
        q_incremental_admission,
    )

    span16 = " ".join(f"s{i}" for i in range(16))  # corpus-owned
    uniq16 = " ".join(f"u{i}" for i in range(16))  # wave-1-owned
    rows = [
        # corpus (id%23!=0, %29!=0):
        (1, "web", f"{span16} filler1a filler1b"),
        # eval shard 1 (corpus, %3==0): grams shared with doc 46
        (3, "web", "evalgram one two three four tail3"),
        # eval shard 2 (corpus, %3!=0, %7==0): grams shared w/ doc 787
        (7, "web", "shard2 alpha beta gamma delta tail7"),
        # wave-1 batch (%23==0):
        (23, "web", f"{span16} {uniq16} w23extra"),
        (46, "web", "evalgram one two three four tail46"),
        # wave-2 batch (%29==0, %23!=0):
        (58, "web", f"{uniq16} w58a w58b w58c"),
        (87, "web", "shard2 alpha beta gamma delta tail87"),
    ]
    sf = tmp_path / "sf_planted"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id BIGINT, source STRING, text STRING"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    out = {
        (int(r["wave"]), int(r["doc_id"])): r
        for r in q_incremental_admission.__wrapped__(
            spark, str(sf)
        ).collect()
    }
    # wave 1: 46 dropped (eval-1 gram), 23 admitted with the
    # corpus-owned 16 tokens stripped (18+16-16 = 17+... doc 23 has
    # 33 tokens; span16 stripped => 17 left)
    assert (1, 46) not in out
    assert (1, 23) in out and int(out[(1, 23)]["n_tokens"]) == 17
    assert int(out[(1, 23)]["n_dropped"]) == 1
    # wave 2: 87 dropped (appended shard-2 gram); 58 admitted with
    # the wave-1-owned span stripped (19 tokens - 16 = 3) — only
    # possible if doc 23's windows were APPENDED to the store
    assert (2, 87) not in out
    assert (2, 58) in out and int(out[(2, 58)]["n_tokens"]) == 3
    assert int(out[(2, 58)]["n_dropped"]) == 1
