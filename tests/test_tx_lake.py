"""Transactional-lake commit protocol: atomicity, concurrency, legacy
adoption. These are the properties plain dynamic-partition-overwrite
cannot give (round-1 VERDICT, missing #1)."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from babylon_data_loader_spark.operators.tx_lake import (
    SCHEMA_SIDECAR,
    ConcurrentWriteError,
    TransactionalLake,
)

KEY = ["k"]


def frame(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v STRING, data_source STRING")


def state(spark, lake):
    return sorted(
        (r["k"], r["v"], r["data_source"])
        for r in lake.read(spark).collect()
    )


def assert_sidecar_read_matches(spark, lake):
    """Every live written dir carries a sidecar equal to the data
    schema its footers give plus the partition column last, and
    reading through the recorded schemas gives exactly what the
    inferred per-dir read gives, the partition column cast to its
    recorded type: schema (column order, nullability, field metadata)
    and rows."""
    live = {
        d
        for dirs in lake.current_manifest()["partitions"].values()
        for d in dirs
        if d != "."
    }
    assert live
    pc = lake.partition_col
    for d in live:
        # the sidecar holds the data schema a footer read reports,
        # then the partition column
        base = os.path.join(lake.lake_path, d)
        data = [
            f
            for f in spark.read.parquet(base).schema.fields
            if f.name != pc
        ]
        sidecar = lake._dir_schema(base)
        assert StructType(sidecar.fields[:-1]) == StructType(data)
        assert sidecar.fields[-1].name == pc
    recorded = lake.read(spark)
    lake._dir_schema = lambda base: None
    try:
        inferred = lake.read(spark)
    finally:
        del lake._dir_schema
    inferred = inferred.withColumn(
        pc, F.col(pc).cast(recorded.schema[pc].dataType)
    )
    assert recorded.schema.json() == inferred.schema.json()
    assert sorted(map(repr, recorded.collect())) == sorted(
        map(repr, inferred.collect())
    )


def test_merge_then_read_and_upsert(spark, tmp_path):
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase"), (2, "b", "syn")]), KEY)
    assert state(spark, lake) == [(1, "a", "chase"), (2, "b", "syn")]
    # same-key row replaces; other partition untouched
    lake.merge(spark, frame(spark, [(1, "a2", "chase")]), KEY)
    assert state(spark, lake) == [(1, "a2", "chase"), (2, "b", "syn")]
    assert lake.current_manifest()["version"] == 2


def test_crash_before_pointer_swap_leaves_old_state(spark, tmp_path, monkeypatch):
    """A writer dying after its data write but before the _CURRENT swap
    must leave readers on the previous snapshot, with no partial
    partitions visible — the failure plain overwrite cannot survive."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    before = state(spark, lake)

    publish = lake.backend.publish

    def boom(path, payload):
        # the version dir's schema sidecar is published too; crash only
        # at the pointer swap, after the claim
        if path.endswith("_CURRENT"):
            raise RuntimeError("simulated crash before pointer swap")
        publish(path, payload)

    monkeypatch.setattr(lake.backend, "publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        lake.merge(spark, frame(spark, [(1, "X", "chase")]), KEY)
    monkeypatch.undo()
    # old state intact; the orphaned claim is stale-recoverable
    assert state(spark, lake) == before
    # a later writer (after the stale window) succeeds
    lake.stale_claim_s = 0.0
    lake.merge(spark, frame(spark, [(2, "c", "chase")]), KEY)
    assert state(spark, lake) == [(1, "a", "chase"), (2, "c", "chase")]


def test_concurrent_claim_conflict_retries_on_fresh_state(spark, tmp_path):
    """Two writers racing for the same version: the loser must redo its
    merge against the winner's committed state, so no update is lost."""
    path = str(tmp_path / "lake")
    a = TransactionalLake(path)
    a.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)

    b = TransactionalLake(path)
    # Writer B sneaks a commit in while A is mid-merge: simulate by
    # pre-claiming A's next version with B's merge.
    b.merge(spark, frame(spark, [(2, "b", "chase")]), KEY)
    # A's retry loop must converge on state that includes B's row.
    a.merge(spark, frame(spark, [(3, "c", "chase")]), KEY)
    assert state(spark, a) == [
        (1, "a", "chase"),
        (2, "b", "chase"),
        (3, "c", "chase"),
    ]

    # A hard conflict (claim exists, not stale, state never advances)
    # surfaces as ConcurrentWriteError rather than silent lost update.
    nxt = a.current_manifest()["version"] + 1
    os.makedirs(os.path.join(path, "_manifest"), exist_ok=True)
    claim = os.path.join(path, "_manifest", f"v{nxt}.json")
    with open(claim, "w", encoding="utf-8") as fh:
        fh.write("{}")
    with pytest.raises(ConcurrentWriteError):
        a.merge(spark, frame(spark, [(4, "d", "chase")]), KEY, max_retries=1)
    os.remove(claim)


def test_legacy_plain_lake_adopted_in_place(spark, tmp_path):
    """A pre-versioned plain parquet lake becomes version 1's data dir
    with zero data movement; merge then upserts against it."""
    path = str(tmp_path / "lake")
    frame(spark, [(1, "old", "chase"), (2, "keep", "syn")]).write.partitionBy(
        "data_source"
    ).parquet(path)
    lake = TransactionalLake(path)
    assert not lake.is_versioned()
    lake.merge(spark, frame(spark, [(1, "new", "chase")]), KEY)
    assert lake.is_versioned()
    assert state(spark, lake) == [(1, "new", "chase"), (2, "keep", "syn")]


def test_append_accumulates_and_compact_folds(spark, tmp_path):
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.append(spark, frame(spark, [(1, "a", "chase")]))
    lake.append(spark, frame(spark, [(1, "a", "chase")]))  # true append: dup kept
    lake.append(spark, frame(spark, [(2, "b", "syn")]))
    assert len(state(spark, lake)) == 3
    m = lake.current_manifest()
    assert len(m["partitions"]["data_source=chase"]) == 2  # two dirs
    assert_sidecar_read_matches(spark, lake)
    lake.compact(spark)
    m2 = lake.current_manifest()
    assert len(m2["partitions"]["data_source=chase"]) == 1
    assert len(state(spark, lake)) == 3  # data unchanged
    assert_sidecar_read_matches(spark, lake)


def test_reader_snapshot_isolation(spark, tmp_path):
    """A DataFrame resolved before a merge keeps reading its snapshot
    (immutable version dirs are never rewritten)."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    old_reader = lake.read(spark)
    lake.merge(spark, frame(spark, [(1, "b", "chase")]), KEY)
    assert [r["v"] for r in old_reader.collect()] == ["a"]
    assert [r["v"] for r in lake.read(spark).collect()] == ["b"]


def test_merge_schema_evolution(spark, tmp_path):
    """A later batch may carry new columns; older rows read as NULL
    for them (mergeSchema semantics), and untouched partitions keep
    working."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase"), (2, "b", "syn")]), KEY)
    evolved = spark.createDataFrame(
        [(3, "c", "chase", "new-val")],
        "k BIGINT, v STRING, data_source STRING, extra STRING",
    )
    lake.merge(spark, evolved, KEY)
    rows = {r["k"]: r.asDict() for r in lake.read(spark).collect()}
    assert rows[3]["extra"] == "new-val"
    assert rows[1]["extra"] is None  # old chase row, evolved partition
    assert rows[2]["extra"] is None  # untouched syn partition (filled
    # by the reader's allowMissingColumns union)
    assert set(rows) == {1, 2, 3}
    assert_sidecar_read_matches(spark, lake)


def test_time_travel_reads(spark, tmp_path):
    """Every committed version stays readable (immutable dirs +
    retained manifests); uncommitted claims are not readable."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "v1", "chase")]), KEY)
    lake.merge(spark, frame(spark, [(1, "v2", "chase")]), KEY)
    lake.merge(spark, frame(spark, [(2, "x", "syn")]), KEY)

    assert [r["v"] for r in lake.read(spark, version=1).collect()] == ["v1"]
    assert [r["v"] for r in lake.read(spark, version=2).collect()] == ["v2"]
    assert len(lake.read(spark, version=3).collect()) == 2
    assert len(lake.read(spark).collect()) == 2
    with pytest.raises(ValueError, match="not committed"):
        lake.read(spark, version=4)
    with pytest.raises(ValueError, match="not committed"):
        lake.read(spark, version=0)


def test_vacuum_respects_retention(spark, tmp_path):
    """Vacuum removes only dirs outside the retention window; reads in
    the window (incl. time travel) keep working."""
    import os as _os

    lake = TransactionalLake(str(tmp_path / "lake"))
    for i in range(4):
        lake.merge(spark, frame(spark, [(1, f"v{i+1}", "chase")]), KEY)
    n_dirs_before = len(_os.listdir(lake._versions_dir))
    assert n_dirs_before == 4

    # age-grace (separately tested) would spare these seconds-old dirs
    lake.stale_claim_s = 0.0
    report = lake.vacuum(keep_versions=2)
    assert report["kept_from_version"] == 3
    assert len(report["removed_dirs"]) == 2
    assert len(_os.listdir(lake._versions_dir)) == 2
    # current + in-window time travel still read
    assert [r["v"] for r in lake.read(spark).collect()] == ["v4"]
    assert [r["v"] for r in lake.read(spark, version=3).collect()] == ["v3"]
    # outside the window the manifest is gone
    with pytest.raises(FileNotFoundError):
        lake.read(spark, version=1)


def test_diff_between_versions(spark, tmp_path):
    """Version diff: an upsert shows as delete+insert of the changed
    key, a pure insert as insert only; untouched partitions never
    appear."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase"), (9, "z", "syn")]), KEY)
    lake.merge(spark, frame(spark, [(1, "a2", "chase"), (2, "b", "chase")]), KEY)

    d = lake.diff(spark, 1, 2, KEY).collect()
    changes = sorted((r["change_type"], r["k"], r["v"]) for r in d)
    assert changes == [
        ("delete", 1, "a"),       # old value of upserted key
        ("insert", 1, "a2"),      # new value
        ("insert", 2, "b"),       # pure insert
    ]  # (9, 'z') untouched → absent

    # no-op diff
    assert lake.diff(spark, 2, 2, KEY).collect() == []


def test_fsck_reports_integrity(spark, tmp_path):
    import os as _os
    import shutil as _shutil

    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    lake.merge(spark, frame(spark, [(2, "b", "chase")]), KEY)
    report = lake.fsck()
    assert report["ok"] and report["version"] == 2
    assert report["orphan_dirs"] == [] and report["dangling_claims"] == []

    # a dangling claim (crashed writer) is reported, not fatal
    with open(
        _os.path.join(str(tmp_path / "lake"), "_manifest", "v3.json"), "w"
    ) as fh:
        fh.write("{}")
    assert lake.fsck()["dangling_claims"] == ["v3.json"]
    _os.remove(_os.path.join(str(tmp_path / "lake"), "_manifest", "v3.json"))

    # a tag pinned to a vacuumed/missing manifest breaks integrity
    # (tag() validates at creation; simulate external damage by
    # deleting the pinned manifest out from under an existing tag)
    lake.tag("audit", 1)
    assert lake.fsck()["broken_tags"] == []
    _os.remove(
        _os.path.join(str(tmp_path / "lake"), "_manifest", "v1.json")
    )
    report = lake.fsck()
    assert not report["ok"] and report["broken_tags"] == ["audit=v1"]
    # vacuum must not wedge on the broken tag (it skips the missing
    # tag-only manifest; fsck is the reporting surface)
    lake.vacuum(keep_versions=1)
    lake.delete_tag("audit")
    assert lake.fsck()["ok"]

    # deleting a live dir breaks integrity
    live = lake.current_manifest()["partitions"]["data_source=chase"][0]
    _shutil.rmtree(_os.path.join(str(tmp_path / "lake"), live))
    report = lake.fsck()
    assert not report["ok"] and report["missing_dirs"] == [live]


def test_truly_concurrent_merges(spark, tmp_path):
    """Two threads merge at the same time: the claim protocol must
    serialize them — whatever the interleaving, both updates land and
    the version advances exactly twice."""
    import threading

    path = str(tmp_path / "lake")
    base = TransactionalLake(path)
    base.merge(spark, frame(spark, [(0, "seed", "chase")]), KEY)

    errors = []

    def writer(k, v):
        try:
            TransactionalLake(path).merge(
                spark, frame(spark, [(k, v, "chase")]), KEY, max_retries=8
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    t1 = threading.Thread(target=writer, args=(1, "from-t1"))
    t2 = threading.Thread(target=writer, args=(2, "from-t2"))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert state(spark, base) == [
        (0, "seed", "chase"),
        (1, "from-t1", "chase"),
        (2, "from-t2", "chase"),
    ]
    assert base.current_manifest()["version"] == 3


def test_change_feed_maintains_downstream_aggregate(spark, tmp_path):
    """CDC usage: a downstream per-partition count maintained purely
    from diff(v, v+1) deltas equals a full recompute — the incremental
    pattern that avoids rescanning the lake after every merge."""
    from pyspark.sql import functions as F

    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase"), (2, "b", "syn")]), KEY)

    def counts_of(df):
        return {
            r["data_source"]: r["n"]
            for r in df.groupBy("data_source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    state_counts = counts_of(lake.read(spark, version=1))

    lake.merge(
        spark,
        frame(spark, [(1, "a2", "chase"), (3, "c", "chase"), (4, "d", "syn")]),
        KEY,
    )
    deltas = (
        lake.diff(spark, 1, 2, KEY)
        .groupBy("data_source")
        .agg(
            F.sum(
                F.when(F.col("change_type") == "insert", 1).otherwise(-1)
            ).alias("delta")
        )
        .collect()
    )
    for r in deltas:
        state_counts[r["data_source"]] = (
            state_counts.get(r["data_source"], 0) + r["delta"]
        )
    assert state_counts == counts_of(lake.read(spark))


def test_partition_values_with_special_characters(spark, tmp_path):
    """Spark percent-escapes partition path names; the manifest's
    value↔subdir matching must survive spaces, %, =, unicode — a
    mismatch would silently skip the anti-join for that partition and
    duplicate keys on re-merge."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    specials = ["a b", "c%d", "e=f", "naïve", "x:y"]
    rows = [(i, "v1", s) for i, s in enumerate(specials)]
    lake.merge(spark, frame(spark, rows), KEY)
    # re-merge same keys with new values: MUST collapse, not duplicate
    rows2 = [(i, "v2", s) for i, s in enumerate(specials)]
    lake.merge(spark, frame(spark, rows2), KEY)
    got = sorted(
        (r["k"], r["v"], r["data_source"])
        for r in lake.read(spark).collect()
    )
    assert got == [(i, "v2", s) for i, s in enumerate(specials)]
    assert lake.current_manifest()["version"] == 2


def test_diff_null_safe_and_schema_evolution(spark, tmp_path):
    """Rows carrying NULLs must match their unchanged selves across
    versions (no spurious delete+insert), and a diff across a schema
    change compares the shared columns instead of raising."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(
        spark,
        frame(spark, [(1, None, "chase"), (2, "b", "chase")]),
        KEY,
    )
    # v2 touches the partition but only changes k=2
    lake.merge(spark, frame(spark, [(2, "b2", "chase")]), KEY)
    d = lake.diff(spark, 1, 2, KEY).collect()
    changes = sorted(
        (r["change_type"], r["k"], r["v"]) for r in d
    )
    # (1, NULL) unchanged → absent; only the real update appears
    assert changes == [("delete", 2, "b"), ("insert", 2, "b2")]

    # v3 adds a column (schema evolution); diff v2→v3 must not raise
    wide = spark.createDataFrame(
        [(3, "c", "extra", "chase")],
        "k BIGINT, v STRING, note STRING, data_source STRING",
    )
    lake.merge(spark, wide, KEY)
    d2 = lake.diff(spark, 2, 3, KEY).collect()
    assert ("insert", 3) in {(r["change_type"], r["k"]) for r in d2}
    # unchanged-on-shared-columns rows are not spurious pairs
    assert (1, None) not in {
        (r["k"], r["v"]) for r in d2 if r["change_type"] == "delete"
    }


def test_merge_null_key_column_upserts(spark, tmp_path):
    """A NULL in a merge-key column (check_or_slip_num analogue) must
    match a stored NULL — Mongo upsert semantics — not duplicate."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    two_key = ["k", "v"]
    df1 = spark.createDataFrame(
        [(1, None, 1.0, "chase")],
        "k BIGINT, v STRING, amt DOUBLE, data_source STRING",
    )
    lake.merge(spark, df1, two_key)
    df2 = spark.createDataFrame(
        [(1, None, 2.0, "chase")],
        "k BIGINT, v STRING, amt DOUBLE, data_source STRING",
    )
    lake.merge(spark, df2, two_key)
    rows = lake.read(spark).collect()
    assert len(rows) == 1 and rows[0]["amt"] == 2.0


def test_merge_null_partition_value(spark, tmp_path):
    """NULL partition value maps to __HIVE_DEFAULT_PARTITION__ on
    disk; a second merge touching it must replace, not duplicate."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", None), (2, "b", "chase")]), KEY)
    lake.merge(spark, frame(spark, [(1, "a2", None)]), KEY)
    assert state(spark, lake) == [(1, "a2", None), (2, "b", "chase")]


def _seed_lake(spark, path):
    lake = TransactionalLake(path)
    lake.merge(
        spark, frame(spark, [(1, "a", "chase"), (2, "b", "amex")]), KEY
    )
    return lake


# Each writer's call, and the rows it leaves on top of the seed's
# (1, a, chase), (2, b, amex) plus the racers' rows.
WRITERS = {
    "merge": (
        lambda spark, lake: lake.merge(
            spark, frame(spark, [(1, "mine", "chase")]), KEY
        ),
        lambda rows: [r for r in rows if r[0] != 1] + [(1, "mine", "chase")],
    ),
    "append": (
        lambda spark, lake: lake.append(
            spark, frame(spark, [(3, "mine", "chase")])
        ),
        lambda rows: rows + [(3, "mine", "chase")],
    ),
    "delete_where": (
        lambda spark, lake: lake.delete_where(spark, F.col("k") == 1),
        lambda rows: [r for r in rows if r[0] != 1],
    ),
    "migrate_partitioning": (
        lambda spark, lake: lake.migrate_partitioning(spark, "v"),
        lambda rows: rows,
    ),
    "compact": (lambda spark, lake: lake.compact(spark), lambda rows: rows),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writers_retry_on_claim_race(spark, tmp_path, writer):
    """Every writer commits through the one write loop: a lost claim
    re-plans on the advanced state, so the call lands on top of the
    racer's commits; when every claim is lost the call raises and
    leaves no orphan version dir behind."""
    call, expect = WRITERS[writer]

    # A racing writer commits before each of A's first two claims.
    path = str(tmp_path / "race")
    a = _seed_lake(spark, path)
    b = TransactionalLake(path)
    real_create = a.backend.create_exclusive
    racers = [(9, "race0", "chase"), (10, "race1", "amex")]
    pending = list(racers)

    def flaky(key, payload):
        if pending:
            b.append(spark, frame(spark, [pending.pop(0)]))
            return False
        return real_create(key, payload)

    a.backend.create_exclusive = flaky
    call(spark, a)
    landed = TransactionalLake.open(path)
    assert landed.current_manifest()["version"] == 4
    want = expect([(1, "a", "chase"), (2, "b", "amex"), *racers])
    assert state(spark, landed) == sorted(want)
    assert landed.fsck()["orphan_dirs"] == []
    if writer == "migrate_partitioning":
        assert landed.partition_col == "v"
    if writer == "compact":
        assert all(
            len(dirs) == 1
            for dirs in landed.current_manifest()["partitions"].values()
        )

    # Every claim lost: raises, commits nothing, leaks no dir.
    doomed = _seed_lake(spark, str(tmp_path / "doomed"))
    doomed.backend.create_exclusive = lambda key, payload: False
    dirs_before = set(os.listdir(doomed._versions_dir))
    with pytest.raises(ConcurrentWriteError):
        call(spark, doomed)
    assert set(os.listdir(doomed._versions_dir)) == dirs_before
    assert doomed.current_manifest()["version"] == 1


def test_vacuum_spares_young_inflight_dirs(spark, tmp_path):
    """An unreferenced version dir younger than stale_claim_s is an
    in-flight writer's staged data, not garbage — vacuum must skip it
    (and remove it once past the grace window)."""
    import os as _os

    lake = TransactionalLake(str(tmp_path / "lake"), stale_claim_s=3600.0)
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    # Stage a dir the way a writer does pre-claim: write, no commit.
    rel, _ = lake._write_version_dir(frame(spark, [(2, "inflight", "chase")]))
    staged = _os.path.join(lake.lake_path, rel)

    rep = lake.vacuum(keep_versions=1)
    assert rep["removed_dirs"] == []
    assert _os.path.isdir(staged)

    # Past the grace window the same dir is garbage.
    lake.stale_claim_s = 0.0
    old = time.time() - 10
    _os.utime(staged, (old, old))
    rep2 = lake.vacuum(keep_versions=1)
    assert rel in rep2["removed_dirs"]
    assert not _os.path.isdir(staged)


def test_stale_claim_takeover_single_winner(spark, tmp_path):
    """Two writers that both observe the same stale claim: exactly one
    takes it over; the other gets ConcurrentWriteError instead of
    deleting the winner's re-created claim."""
    path = str(tmp_path / "lake")
    a = TransactionalLake(path, stale_claim_s=0.0)
    a.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)

    # Plant a stale claim for the next version (dead writer).
    nxt = a.current_manifest()["version"] + 1
    claim = os.path.join(path, "_manifest", f"v{nxt}.json")
    with open(claim, "w", encoding="utf-8") as fh:
        fh.write("{}")
    old = time.time() - 100
    os.utime(claim, (old, old))

    # Writer B observes the stale claim, but A takes it over and
    # commits (re-creating the claim as its manifest) BEFORE B's
    # fenced removal runs. B's token names the stale generation, so
    # the removal must lose, B must raise, and A's manifest survives.
    b = TransactionalLake(path, stale_claim_s=0.0)
    real_remove = b.backend.remove_exclusive

    def lose_race(key, token=None):
        a._claim_and_commit(
            {
                "version": nxt,
                "partitions": a.current_manifest()["partitions"],
            }
        )
        return real_remove(key, token=token)

    b.backend.remove_exclusive = lose_race
    with pytest.raises(ConcurrentWriteError):
        b._claim_and_commit(
            {"version": nxt, "partitions": b.current_manifest()["partitions"]}
        )
    b.backend.remove_exclusive = real_remove
    # A's committed manifest survived B's failed takeover.
    assert a.current_manifest()["version"] == nxt
    assert os.path.exists(claim)


def test_vacuum_sweeps_old_takeover_tombstones(spark, tmp_path):
    """A .stale.<uuid> tombstone left by a crashed takeover is swept
    by vacuum once past the grace window; young ones are spared."""
    lake = TransactionalLake(str(tmp_path / "lake"), stale_claim_s=50.0)
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    tomb = os.path.join(lake._manifest_dir, "v9.json.stale.deadbeef")
    with open(tomb, "w", encoding="utf-8") as fh:
        fh.write("{}")
    rep = lake.vacuum(keep_versions=5)
    assert "v9.json.stale.deadbeef" not in rep["removed_manifests"]
    assert os.path.exists(tomb)  # young: spared
    old = time.time() - 100
    os.utime(tomb, (old, old))
    rep2 = lake.vacuum(keep_versions=5)
    assert "v9.json.stale.deadbeef" in rep2["removed_manifests"]
    assert not os.path.exists(tomb)


def test_tags_pin_versions_through_vacuum(spark, tmp_path):
    """A tag is a durable snapshot handle: read(tag=) resolves to the
    pinned version, and vacuum spares the tagged version's dirs AND
    manifest even when retention would delete them."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    for i in range(4):
        lake.merge(spark, frame(spark, [(1, f"v{i+1}", "chase")]), KEY)
    assert lake.tag("audit", version=1) == 1
    assert lake.tag("latest") == 4  # defaults to current
    assert lake.tags() == {"audit": 1, "latest": 4}
    assert [r["v"] for r in lake.read(spark, tag="audit").collect()] == [
        "v1"
    ]

    lake.stale_claim_s = 0.0
    report = lake.vacuum(keep_versions=2)
    # window is v3..v4; v2 vanished but tagged v1 survived
    assert report["kept_from_version"] == 3
    assert [r["v"] for r in lake.read(spark, tag="audit").collect()] == [
        "v1"
    ]
    with pytest.raises(FileNotFoundError):
        lake.read(spark, version=2)

    # delete the tag, vacuum again: v1 is now collectible
    lake.delete_tag("audit")
    lake.vacuum(keep_versions=2)
    with pytest.raises(FileNotFoundError):
        lake.read(spark, version=1)


def test_tag_validation(spark, tmp_path):
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    with pytest.raises(ValueError, match="invalid tag"):
        lake.tag("no spaces")
    with pytest.raises(ValueError, match="not committed"):
        lake.tag("future", version=9)
    with pytest.raises(KeyError, match="unknown tag"):
        lake.read(spark, tag="nope")
    with pytest.raises(ValueError, match="not both"):
        lake.read(spark, version=1, tag="x")


def test_migrate_partitioning_atomic_rewrite(spark, tmp_path):
    """Partition evolution: the table re-partitions under a new column
    in one committed version; state is unchanged, time travel to the
    old scheme still works, and merges through the NEW handle upsert
    correctly under the new partitioning."""
    import os as _os

    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(
        spark,
        frame(spark, [(1, "a", "chase"), (2, "b", "syn"), (3, "a", "syn")]),
        KEY,
    )
    before = state(spark, lake)

    migrated = lake.migrate_partitioning(spark, "v")
    assert migrated.partition_col == "v"
    assert state(spark, migrated) == before
    # new version dir is hive-partitioned by v
    man = migrated.current_manifest()
    assert all(s.startswith("v=") for s in man["partitions"])
    assert man["partition_col"] == "v"
    # old snapshot still readable (old dirs immutable)
    assert state(spark, lake) != [] and [
        r for r in migrated.read(spark, version=1).collect()
    ]
    # merge via the new handle: replaces same-key rows, new partition
    migrated.merge(spark, frame(spark, [(1, "a", "chase2")]), KEY)
    assert (1, "a", "chase2") in state(spark, migrated)
    assert (1, "a", "chase") not in state(spark, migrated)


def test_open_honors_recorded_partition_col(spark, tmp_path):
    """TransactionalLake.open reads the migrated partition column from
    the manifest instead of trusting the caller's default."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    lake.migrate_partitioning(spark, "v")
    reopened = TransactionalLake.open(str(tmp_path / "lake"))
    assert reopened.partition_col == "v"
    # pre-migration lakes keep the default
    plain = TransactionalLake(str(tmp_path / "plain"))
    plain.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    assert TransactionalLake.open(
        str(tmp_path / "plain")
    ).partition_col == "data_source"


def test_tagged_old_scheme_survives_migration_and_vacuum(spark, tmp_path):
    """A tag pinned BEFORE partition migration keeps the old-scheme
    snapshot readable after the migration and an aggressive vacuum."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    lake.merge(spark, frame(spark, [(2, "b", "syn")]), KEY)
    lake.tag("pre-migration")  # pins v2 (old data_source scheme)
    migrated = lake.migrate_partitioning(spark, "v")
    migrated.merge(spark, frame(spark, [(3, "c", "syn")]), KEY)

    migrated.stale_claim_s = 0.0
    migrated.vacuum(keep_versions=1)
    got = sorted(
        (r["k"], r["v"])
        for r in migrated.read(spark, tag="pre-migration").collect()
    )
    assert got == [(1, "a"), (2, "b")]
    assert len(state(spark, migrated)) == 3


def test_manifest_carries_partition_col_through_writes(spark, tmp_path):
    """ADVICE r4 (high): merge/append/compact manifests must CARRY the
    partition_col recorded by migrate_partitioning. If any write drops
    it, open() falls back to the default column and merges through
    that handle silently resurrect same-key rows."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase"), (2, "b", "syn")]), KEY)
    migrated = lake.migrate_partitioning(spark, "v")

    # merge, append, compact each commit a NEW manifest post-migration
    # (updates keep each key's partition value "v" constant — merge is
    # partition-scoped by design, so a key's partition value moving is
    # out of scope here)
    migrated.merge(spark, frame(spark, [(1, "a", "chase2")]), KEY)
    assert migrated.current_manifest()["partition_col"] == "v"
    migrated.append(spark, frame(spark, [(9, "z", "syn")]))
    assert migrated.current_manifest()["partition_col"] == "v"
    migrated.compact(spark)
    assert migrated.current_manifest()["partition_col"] == "v"

    # the regression scenario: reopen AFTER the post-migration writes
    # and merge a same-key row — it must replace, not duplicate
    reopened = TransactionalLake.open(str(tmp_path / "lake"))
    assert reopened.partition_col == "v"
    reopened.merge(spark, frame(spark, [(1, "a", "chase3")]), KEY)
    rows = state(spark, reopened)
    assert (1, "a", "chase3") in rows
    assert len([r for r in rows if r[0] == 1]) == 1
    # subdirs are under the migrated column in every committed version
    assert all(
        s.startswith("v=")
        for s in reopened.current_manifest()["partitions"]
    )


def test_mismatched_handle_refuses_to_write(spark, tmp_path):
    """A handle constructed DIRECTLY (not via open()) with the wrong
    partition column must fail fast instead of committing dirs under
    the wrong scheme."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
    lake.migrate_partitioning(spark, "v")
    stale = TransactionalLake(str(tmp_path / "lake"))  # default col
    with pytest.raises(ValueError, match="reopen with"):
        stale.append(spark, frame(spark, [(2, "b", "syn")]))


def test_tag_rejects_vacuumed_version(spark, tmp_path):
    """ADVICE r4 (low): tagging a version whose manifest was vacuumed
    must fail at tag() time, not poison read(tag=) and every later
    vacuum with FileNotFoundError."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    for i in range(4):
        lake.merge(spark, frame(spark, [(i, "a", "chase")]), KEY)
    lake.stale_claim_s = 0.0
    lake.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuumed"):
        lake.tag("old", version=1)
    # current version still taggable
    assert lake.tag("now") == lake.current_manifest()["version"]


def test_tag_rolls_back_on_concurrent_vacuum(spark, tmp_path):
    """r5 ADVICE (low): if a (mis-serialized) concurrent vacuum
    deletes the target manifest between tag()'s pre-check and the tag
    write, the post-write re-verify must remove the dangling tag and
    raise — never leave a tag pointing at a deleted manifest."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    for i in range(3):
        lake.merge(spark, frame(spark, [(i, "a", "chase")]), KEY)

    real = lake.manifest_at
    calls = {"n": 0}

    def racy(v):
        m = real(v)
        calls["n"] += 1
        if v == 1 and calls["n"] == 1:
            # simulate the vacuum landing right after the pre-check:
            # delete v1's manifest before tag() re-verifies
            os.remove(os.path.join(lake._manifest_dir, "v1.json"))
        return m

    lake.manifest_at = racy
    with pytest.raises(ValueError, match="rolled back"):
        lake.tag("pin", version=1)
    assert "pin" not in lake.tags()
    # untouched versions still taggable afterwards
    assert lake.tag("now") == lake.current_manifest()["version"]


def test_delete_where_semantics(spark, tmp_path):
    """delete_where: SQL DELETE semantics (NULL condition keeps the
    row), partition-scoped rewrite, all-match partitions dropped from
    the manifest, no-match deletes commit nothing, and time travel
    still sees the deleted rows."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    rows = [
        (0, "a", "chase"),
        (1, "b", "chase"),
        (2, "c", "synthetic"),
        (3, None, "synthetic"),  # NULL v: kept by the v='c' delete
    ]
    lake.merge(spark, frame(spark, rows), KEY)
    v1 = lake.current_manifest()["version"]

    # delete everything in one partition: its manifest entry vanishes
    n = lake.delete_where(spark, F.col("data_source") == "chase")
    assert n == 2
    m = lake.current_manifest()
    assert "data_source=chase" not in m["partitions"]
    assert m["version"] == v1 + 1

    # NULL condition rows survive (v is NULL on row 3)
    n = lake.delete_where(spark, F.col("v") == "c")
    assert n == 1
    assert [r["k"] for r in lake.read(spark).collect()] == [3]

    # no-match: returns 0, no version committed
    v_now = lake.current_manifest()["version"]
    assert lake.delete_where(spark, F.col("v") == "zzz") == 0
    assert lake.current_manifest()["version"] == v_now

    # pre-delete snapshot still has all 4 rows
    assert lake.read(spark, version=v1).count() == 4
    assert_sidecar_read_matches(spark, lake)


def test_delete_where_partition_pruning_metadata_only(spark, tmp_path):
    """The r7 delete_where fast path: a condition on the partition
    column itself resolves touched partitions from the MANIFEST's
    values (metadata-scale probe), while a condition on any other
    column falls back to the column-pruned discovery scan — both
    produce the same touched set the old full-scan discovery did."""
    lake = TransactionalLake(str(tmp_path / "lake"))
    rows = [
        (0, "a", "chase"),
        (1, "b", "synthetic"),
        (2, "c", None),  # NULL partition value
    ]
    lake.merge(spark, frame(spark, rows), KEY)
    manifest = lake.current_manifest()

    # partition-col condition: resolved without a data scan
    hit = lake._touched_partition_values(
        spark, manifest, F.col("data_source") == "chase"
    )
    assert hit == {"chase"}

    # IS NULL on the partition col finds the null sentinel partition
    hit = lake._touched_partition_values(
        spark, manifest, F.col("data_source").isNull()
    )
    assert hit == {"__HIVE_DEFAULT_PARTITION__"}

    # non-partition column: the probe can't resolve it; fallback scan
    hit = lake._touched_partition_values(
        spark, manifest, F.col("v") == "b"
    )
    assert hit == {"synthetic"}

    # and the end-to-end delete over the fast path is still exact
    assert lake.delete_where(spark, F.col("data_source").isNull()) == 1
    assert sorted(
        r["k"] for r in lake.read(spark).collect()
    ) == [0, 1]


def test_delete_where_data_column_named_raw(spark, tmp_path):
    """A data column literally named __raw must not capture the
    metadata probe's helper column: the condition references a
    non-partition column, so the fast path must fall back to the
    discovery scan and the delete must remove the matching rows."""
    import os

    from pyspark.sql import functions as F

    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    lake = TransactionalLake(
        os.path.join(str(tmp_path), "rawlake"), partition_col="part"
    )
    df = spark.createDataFrame(
        [(1, "P", "x"), (2, "P", "y"), (3, "Q", "x")],
        "id LONG, part STRING, __raw STRING",
    )
    lake.merge(spark, df, key=["id"])
    n = lake.delete_where(spark, F.col("__raw") == "x")
    assert n == 2
    left = {r["id"] for r in lake.read(spark).collect()}
    assert left == {2}


def test_condition_attr_names_prechecks_fast_path(spark):
    """r12: fast-path eligibility is a reference-set PRE-CHECK (no
    probe analysis failure, no logged AnalysisException). The walker
    must name exactly the condition's columns and return None only
    when the tree cannot be trusted."""
    from babylon_data_loader_spark.functions.exprs import (
        referenced_columns as names,
    )

    assert names(F.col("data_source") == "chase") == {"data_source"}
    assert names(F.col("data_source").isNull()) == {"data_source"}
    assert names(
        (F.col("a") > 1) & (F.col("b").isin("x", "y"))
    ) == {"a", "b"}
    assert names(F.lit(True)) == set()
    # a plain-string condition is not a Column — unknown, not a crash
    assert names("data_source = 'chase'") is None


def test_schema_sidecar_nested_null_partition_numeric_migration(
    spark, tmp_path
):
    """The recorded schema matches the inferred one for a frame with a
    NOT NULL column, field metadata and nested array/map types, after
    a delete that touches only the NULL partition (whose inferred
    partition type is VOID) and after migrating the partitioning onto
    a numeric-looking string column (inferred as int)."""
    from pyspark.sql import types as T

    nest = T.StructType(
        [
            T.StructField("xs", T.ArrayType(T.LongType(), False), False),
            T.StructField(
                "m", T.MapType(T.StringType(), T.DoubleType(), False)
            ),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True, {"comment": "value"}),
            T.StructField("acct", T.StringType()),
            T.StructField("nest", nest, False),
            T.StructField("data_source", T.StringType()),
        ]
    )
    rows = [
        (1, "a", "1001", ([1, 2], {"x": 1.0}), "chase"),
        (2, "b", "1002", ([3], {}), None),
        (3, "c", "1001", ([], {"y": 2.0}), None),
    ]
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(spark, spark.createDataFrame(rows, schema), KEY)
    assert_sidecar_read_matches(spark, lake)
    assert lake.read(spark).schema["v"].metadata == {"comment": "value"}
    assert lake.delete_where(spark, F.col("k") == 3) == 1
    assert_sidecar_read_matches(spark, lake)
    migrated = lake.migrate_partitioning(spark, "acct")
    assert_sidecar_read_matches(spark, migrated)
    # the written string type, not the integer hive inference guesses
    back = migrated.read(spark)
    assert back.schema["acct"].dataType == T.StringType()
    assert sorted(r["acct"] for r in back.collect()) == ["1001", "1002"]


def test_lookup_on_recorded_schemas_runs_one_job(spark, tmp_path, monkeypatch):
    """Opening a lake whose dirs carry schema sidecars and building a
    point lookup on it runs no Spark job (no footer inference per
    dir) and reads the snapshot once (one _CURRENT read, one manifest
    read); the lookup's collect is a single job."""
    from babylon_data_loader_spark.api import (
        add_transaction,
        get_transaction_by_id,
    )
    from babylon_data_loader_spark.operators.commit_backend import (
        PosixCommitBackend,
    )
    from babylon_data_loader_spark.sources.parquet_lake import (
        read_transactions,
    )

    path = str(tmp_path / "transactions")
    txn = {"type": "DEBIT_CARD", "amount": -1.5, "data_source": "chase"}
    ids = [
        add_transaction(spark, path, {**txn, "description": f"t{i}"})
        for i in range(3)
    ]
    sc = spark.sparkContext
    calls = []
    for name in ("read", "exists"):
        orig = getattr(PosixCommitBackend, name)
        monkeypatch.setattr(
            PosixCommitBackend,
            name,
            lambda self, key, orig=orig, name=name: calls.append(
                (name, os.path.basename(key))
            )
            or orig(self, key),
        )

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sc.statusTracker().getJobIdsForGroup(group)

    lookup, built = jobs_of(
        "sidecar-lookup-build",
        lambda: get_transaction_by_id(
            read_transactions(spark, path), ids[1], "DEBIT_CARD"
        ),
    )
    assert built == []
    # one _CURRENT and one manifest read; one sidecar read per dir
    assert Counter(calls) == {
        ("read", "_CURRENT"): 1,
        ("read", "v3.json"): 1,
        ("read", SCHEMA_SIDECAR): 3,
    }
    rows, ran = jobs_of("sidecar-lookup-collect", lookup.collect)
    assert [r["transaction_id"] for r in rows] == [ids[1]]
    assert len(ran) == 1


def test_dirs_without_usable_sidecar_fall_back_to_inference(spark, tmp_path):
    """The adopted legacy root dir has no sidecar, a dir may lose its
    sidecar, and an unparseable sidecar is ignored: each is read with
    its inferred schema and the lake reads as before."""
    path = str(tmp_path / "lake")
    frame(spark, [(1, "old", "chase"), (2, "keep", "syn")]).write.partitionBy(
        "data_source"
    ).parquet(path)
    lake = TransactionalLake(path)
    lake.append(spark, frame(spark, [(3, "c", "chase")]))
    lake.append(spark, frame(spark, [(4, "d", "syn")]))
    dirs = lake.current_manifest()["partitions"]
    missing, garbled = dirs["data_source=chase"][1], dirs["data_source=syn"][1]
    os.remove(os.path.join(path, missing, SCHEMA_SIDECAR))
    assert lake._dir_schema(path) is None
    for bad in [
        "{not json",
        "[1, 2]",
        '{"fields": 3}',
        '{"fields": [[1]]}',
        '{"fields": [{"name": "k"}]}',
        '{"fields": [{"name": 1, "type": "string"}]}',
        '{"fields": [{"name": "k", "type": "no_such_type"}]}',
    ]:
        with open(os.path.join(path, garbled, SCHEMA_SIDECAR), "w") as fh:
            fh.write(bad)
        assert lake._dir_schema(os.path.join(path, garbled)) is None, bad
    assert state(spark, lake) == [
        (1, "old", "chase"),
        (2, "keep", "syn"),
        (3, "c", "chase"),
        (4, "d", "syn"),
    ]
    assert lake.read(spark).columns == ["k", "v", "data_source"]


def test_column_order_independent_of_dir_names(spark, tmp_path, monkeypatch):
    """Two lakes with one commit history read with one column order,
    whatever their random version-dir names: the merge dir lacks the
    column the later append adds, and the union follows commit order,
    not the names' sort order."""
    import types

    from babylon_data_loader_spark.operators import tx_lake

    def history(path, names):
        it = iter(names)
        monkeypatch.setattr(
            tx_lake,
            "uuid",
            types.SimpleNamespace(
                uuid4=lambda: types.SimpleNamespace(hex=next(it))
            ),
        )
        lake = TransactionalLake(path)
        lake.merge(spark, frame(spark, [(1, "a", "chase")]), KEY)
        lake.append(
            spark,
            spark.createDataFrame(
                [(2, "b", "chase", "x")],
                "k BIGINT, v STRING, data_source STRING, t STRING",
            ),
        )
        return lake.read(spark).columns

    first = history(str(tmp_path / "a"), ["0" * 12, "f" * 12])
    second = history(str(tmp_path / "b"), ["f" * 12, "0" * 12])
    assert first == second == ["k", "v", "data_source", "t"]


def test_lake_metadata_on_object_store_backend(spark, tmp_path):
    """Past manifests and tags live where the backend keeps them: on
    an object-store backend (data files local, every metadata key an
    object) time travel, tags and diff all work, and no metadata file
    or manifest dir reaches the local disk."""
    from babylon_data_loader_spark.operators.commit_backend import (
        ObjectStoreCommitBackend,
    )
    from tests.test_commit_backend import FakeObjectClient

    lake = TransactionalLake(
        str(tmp_path / "lake"),
        backend=ObjectStoreCommitBackend(FakeObjectClient()),
    )
    lake.merge(
        spark, frame(spark, [(1, "a", "chase"), (2, "b", "chase")]), KEY
    )
    lake.merge(spark, frame(spark, [(1, "a2", "chase")]), KEY)
    v1 = [(1, "a", "chase"), (2, "b", "chase")]
    assert sorted(
        (r["k"], r["v"], r["data_source"])
        for r in lake.read(spark, version=1).collect()
    ) == v1
    assert lake.tag("t", 1) == 1
    assert lake.tags() == {"t": 1}
    assert sorted(
        (r["k"], r["v"], r["data_source"])
        for r in lake.read(spark, tag="t").collect()
    ) == v1
    assert sorted(
        (r["k"], r["v"], r["change_type"])
        for r in lake.diff(spark, 1, 2, KEY).collect()
    ) == [(1, "a", "delete"), (1, "a2", "insert")]
    lake.delete_tag("t")
    assert lake.tags() == {}
    for name in ("_CURRENT", "_tags.json"):
        assert not os.path.exists(os.path.join(lake.lake_path, name))
    assert not os.path.exists(lake._manifest_dir)


def test_tx_lake_does_its_own_io_only_through_the_backend():
    """Guard: ``operators/tx_lake.py`` opens and replaces no file
    itself (metadata goes through ``self.backend``), and lost claims
    are handled in one place, the write loop."""
    import ast

    path = os.path.join(
        os.path.dirname(__file__),
        "..",
        "babylon_data_loader_spark",
        "operators",
        "tx_lake.py",
    )
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    direct_io, handlers = [], 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Name) and f.id == "open") or (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and (f.value.id, f.attr)
                in {("os", "replace"), ("os", "open"), ("io", "open")}
            ):
                direct_io.append(node.lineno)
        if (
            isinstance(node, ast.ExceptHandler)
            and node.type is not None
            and "ConcurrentWriteError" in ast.unparse(node.type)
        ):
            handlers += 1
    assert direct_io == []
    assert handlers == 1


def test_boolean_partition_merge_keeps_untouched_keys(spark, tmp_path):
    """Spark names a boolean partition dir ``flag=true``: a merge must
    match the stored partition by that spelling, so the untouched key
    in it survives, and the column reads back boolean."""
    schema = "k BIGINT, flag BOOLEAN, v STRING"
    lake = TransactionalLake(str(tmp_path / "lake"), partition_col="flag")
    lake.merge(
        spark,
        spark.createDataFrame(
            [(1, True, "a"), (3, True, "c"), (2, False, "b")], schema
        ),
        KEY,
    )
    lake.merge(spark, spark.createDataFrame([(1, True, "NEW")], schema), KEY)
    back = lake.read(spark)
    assert back.schema["flag"].dataType.typeName() == "boolean"
    rows = sorted(tuple(r) for r in back.select("k", "flag", "v").collect())
    assert rows == [(1, True, "NEW"), (2, False, "b"), (3, True, "c")]
    assert lake.delete_where(spark, F.col("v") == "b") == 1
    assert sorted(r["k"] for r in lake.read(spark).collect()) == [1, 3]


def test_numeric_looking_partition_round_trips_and_remerges(spark, tmp_path):
    """A string partition value that looks like a number (``"0042"``)
    reads back as the written string, and a re-merge of its key
    replaces the row instead of writing it again under ``acct=42``."""
    schema = "k BIGINT, acct STRING, v STRING"
    lake = TransactionalLake(str(tmp_path / "lake"), partition_col="acct")
    lake.merge(
        spark,
        spark.createDataFrame([(1, "0042", "a"), (2, "0000", "b")], schema),
        KEY,
    )
    back = lake.read(spark)
    assert back.schema["acct"].dataType.typeName() == "string"
    assert sorted(r["acct"] for r in back.collect()) == ["0000", "0042"]
    lake.merge(spark, spark.createDataFrame([(1, "0042", "a2")], schema), KEY)
    assert sorted(
        tuple(r) for r in lake.read(spark).select("k", "acct", "v").collect()
    ) == [(1, "0042", "a2"), (2, "0000", "b")]
    assert sorted(lake.current_manifest()["partitions"]) == [
        "acct=0000",
        "acct=0042",
    ]
