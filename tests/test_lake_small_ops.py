"""The API's two small lake ops: a point lookup plans one scan per
(recorded schema, partition value) however many appends a partition
holds, and a single-row insert writes its version dir from the driver
with no Spark job. Merge keeps its plan, empty writes commit nothing,
and a driver-written dir reads back exactly as a Spark-written one."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.api import (
    add_transaction,
    get_transaction_by_id,
)
from babylon_data_loader_spark.operators.tx_lake import (
    HIVE_NULL_PARTITION,
    TransactionalLake,
    _driver_writable,
)
from babylon_data_loader_spark.session import local_frame
from babylon_data_loader_spark.sources.parquet_lake import read_transactions
from tests.test_tx_lake import assert_sidecar_read_matches

TXN = {"type": "DEBIT_CARD", "amount": -1.5, "data_source": "chase"}


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


def _input_bytes(spark, jobs) -> int:
    """Bytes the stages of ``jobs`` read from their input files."""
    sc = spark.sparkContext
    store, jvm = sc._jsc.sc().statusStore(), spark._jvm
    total = 0
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            data = store.stageAttempt(
                sid,
                0,
                False,
                jvm.java.util.ArrayList(),
                False,
                sc._gateway.new_array(jvm.double, 0),
            )._1()
            total += data.inputBytes()
    return total


def _file_scans(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count(
        "FileScan parquet"
    )


def test_lookup_plan_does_not_grow_with_appends(spark, tmp_path):
    """A lookup over 50 inserted rows plans the same one parquet scan
    and runs the same one job as over 1: the partition's files across
    all its append dirs are one scan."""
    counts = {}
    for n in (1, 50):
        path = str(tmp_path / f"lake{n}")
        ids = [
            add_transaction(spark, path, {**TXN, "description": f"t{i}"})
            for i in range(n)
        ]
        lookup = get_transaction_by_id(
            read_transactions(spark, path), ids[-1], "DEBIT_CARD"
        )
        rows, jobs = _jobs_of(spark, f"lookup-{n}", lookup.collect)
        assert [r["transaction_id"] for r in rows] == [ids[-1]]
        counts[n] = (_file_scans(lookup), len(jobs))
    assert counts[1] == counts[50] == (1, 1)


def test_insert_runs_no_spark_job_and_commits_through_append(
    spark, tmp_path, monkeypatch
):
    """``add_transaction`` writes its row from the driver: no Spark job
    on a new lake or an existing one, and the commit still goes
    through ``TransactionalLake.append``."""
    calls = []
    append = TransactionalLake.append

    def counted(self, spark, df):
        calls.append(df)
        return append(self, spark, df)

    monkeypatch.setattr(TransactionalLake, "append", counted)
    path = str(tmp_path / "lake")
    for i in range(2):
        _, jobs = _jobs_of(
            spark,
            f"insert-{i}",
            lambda i=i: add_transaction(
                spark, path, {**TXN, "description": f"t{i}"}
            ),
        )
        assert jobs == []
    assert len(calls) == 2
    lake = TransactionalLake.open(path)
    assert lake.current_manifest()["version"] == 2
    assert sorted(r["description"] for r in lake.read(spark).collect()) == [
        "t0",
        "t1",
    ]
    assert lake.fsck()["orphan_dirs"] == []


def test_source_read_opens_only_that_source(spark, tmp_path):
    """``read_transactions(..., "synthetic")`` on a two-source lake with
    appends in both sources opens only synthetic files."""
    from babylon_data_loader_spark.schemas import TRANSACTION_SCHEMA

    path = str(tmp_path / "lake")
    rows = [
        tuple(
            {"description": f"m{s}", "type": "X", "data_source": s}.get(
                f.name
            )
            for f in TRANSACTION_SCHEMA.fields
        )
        for s in ("chase", "synthetic")
    ]
    TransactionalLake(path).merge(
        spark,
        spark.createDataFrame(rows, TRANSACTION_SCHEMA),
        ["description", "data_source"],
    )
    for source in ("chase", "synthetic", "chase", "synthetic"):
        add_transaction(spark, path, {**TXN, "data_source": source})
    df = read_transactions(spark, path, "synthetic")
    files = df.inputFiles()
    assert len(files) == 3
    assert all("/data_source=synthetic/" in f for f in files)
    assert {r["data_source"] for r in df.collect()} == {"synthetic"}


def test_merge_reads_the_batch_as_the_per_dir_reader_did(spark, tmp_path):
    """A two-source CSV batch merged into a two-partition lake on a key
    that holds the partition column reads the CSV three times (the
    touched values, the written rows, their broadcast keys) in five
    jobs, as with one scan per version dir. Comparing the keys column
    by column would let the partition literal fold into the batch-keys
    side and add one CSV read and two jobs. The read count is the
    growth of the merge's stage input bytes over the growth of the
    file, with the rows the same and only a comment line longer."""
    schema = "k INT, v STRING, data_source STRING"

    def merge(pad: int) -> tuple[int, int, int]:
        csv = str(tmp_path / f"batch{pad}.csv")
        with open(csv, "w", encoding="utf-8") as fh:
            fh.write("#" + "x" * pad + "\nk,v,data_source\n")
            for i in range(200):
                fh.write(f"{i},v{i},{'chase' if i % 2 else 'syn'}\n")
        lake = TransactionalLake(str(tmp_path / f"lake{pad}"))
        lake.merge(
            spark,
            spark.createDataFrame([(1, "a", "chase"), (2, "b", "syn")], schema),
            ["k"],
        )
        batch = (
            spark.read.schema(schema)
            .option("header", True)
            .option("comment", "#")
            .csv(csv)
        )
        _, jobs = _jobs_of(
            spark,
            f"merge-{pad}",
            lambda: lake.merge(spark, batch, ["k", "data_source"]),
        )
        assert lake.read(spark).count() == 200
        return os.path.getsize(csv), _input_bytes(spark, jobs), len(jobs)

    (size0, read0, jobs0), (size1, read1, jobs1) = merge(10), merge(100_010)
    assert (read1 - read0) / (size1 - size0) == 3
    assert jobs0 == jobs1 == 5


@pytest.mark.parametrize("local", [True, False])
def test_empty_write_commits_nothing(spark, tmp_path, local):
    """An empty append or merge commits no version and leaves no dir;
    a delete that empties a partition commits and leaves no dir."""
    schema = "k BIGINT, v STRING, data_source STRING"
    lake = TransactionalLake(str(tmp_path / "lake"))
    lake.merge(
        spark,
        spark.createDataFrame([(1, "a", "chase"), (2, "b", "syn")], schema),
        ["k"],
    )
    empty = (
        local_frame(spark, [], schema)
        if local
        else spark.createDataFrame([], schema)
    )
    assert empty.isLocal() is local
    lake.append(spark, empty)
    lake.merge(spark, empty, ["k"])
    assert lake.current_manifest()["version"] == 1
    assert lake.delete_where(spark, F.col("k") == 2) == 1
    assert lake.current_manifest()["version"] == 2
    assert sorted(lake.current_manifest()["partitions"]) == [
        "data_source=chase"
    ]
    assert lake.fsck()["orphan_dirs"] == []
    assert len(os.listdir(lake._versions_dir)) == 1


# -- the driver-side writer against Spark's ---------------------------------

NEST = T.StructType(
    [T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())]
)
DATA_FIELDS = [
    T.StructField("s", T.StringType()),
    T.StructField("l", T.LongType(), False),
    T.StructField("i", T.IntegerType()),
    T.StructField("sm", T.ShortType()),
    T.StructField("ti", T.ByteType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("f", T.FloatType()),
    T.StructField("bo", T.BooleanType()),
    T.StructField("dec", T.DecimalType(12, 2)),
    T.StructField("dt", T.DateType()),
    T.StructField("tsn", T.TimestampNTZType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("st", NEST),
]
FULL = (
    "héllo wörld ✓",
    1,
    -2,
    300,
    -7,
    2.5,
    0.25,
    True,
    decimal.Decimal("1234567890.12"),
    datetime.date(2024, 2, 29),
    datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
    b"\x00\xffbin",
    [1, None, 3],
    {"a": 1.0, "é": None},
    (5, "ü"),
)
EMPTYISH = (None, 2, *[None] * 10, [], {}, (None, None))

# partition column type name -> (type, the values it is written with)
PARTITIONS = {
    "boolean": (T.BooleanType(), [True, False]),
    "string": (
        T.StringType(),
        ["0042", None, "", "a b", "a/b=c%", "é", "it's \\ x"],
    ),
    "date": (T.DateType(), [datetime.date(2024, 5, 6)]),
    "double": (T.DoubleType(), [1e20]),
}


def _rows(values):
    return [(*data, v) for v in values for data in (FULL, EMPTYISH)]


def _duck(path):
    import duckdb

    con = duckdb.connect()
    try:
        rel = con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning = true)",
            [os.path.join(path, "*", "*.parquet")],
        )
        cols = [(c[0], str(c[1])) for c in rel.description]
        return cols, sorted(map(repr, rel.fetchall()))
    finally:
        con.close()


@pytest.mark.parametrize("ptype", sorted(PARTITIONS))
def test_driver_written_dir_reads_as_spark_written(spark, tmp_path, ptype):
    """The same rows written from a local frame (driver writer, no job)
    and from a distributed plan (Spark writer) give the same subdir
    names, and read back the same through the lake's recorded schemas,
    through footer inference and through DuckDB."""
    ptype_, values = PARTITIONS[ptype]
    schema = T.StructType([*DATA_FIELDS, T.StructField("p", ptype_)])
    rows = _rows(values)
    local = local_frame(spark, rows, schema)
    lakes = {}
    for name, df in (("driver", local), ("spark", local.repartition(2))):
        lake = TransactionalLake(str(tmp_path / name), partition_col="p")
        _, jobs = _jobs_of(
            spark, f"write-{ptype}-{name}", lambda: lake.append(spark, df)
        )
        assert (jobs == []) == (name == "driver")
        assert_sidecar_read_matches(spark, lake)
        (rel,) = {
            d for dirs in lake.current_manifest()["partitions"].values()
            for d in dirs
        }
        lakes[name] = (lake, os.path.join(lake.lake_path, rel))
    (d_lake, d_dir), (s_lake, s_dir) = lakes["driver"], lakes["spark"]
    subdirs = sorted(d_lake.current_manifest()["partitions"])
    assert subdirs == sorted(s_lake.current_manifest()["partitions"])
    if ptype == "double":
        assert subdirs == ["p=1.0E20"]
    if ptype == "string":
        assert f"p={HIVE_NULL_PARTITION}" in subdirs
        assert "p=a%2Fb%3Dc%25" in subdirs
    back = [lake.read(spark) for lake in (d_lake, s_lake)]
    assert back[0].schema.json() == back[1].schema.json()
    assert sorted(map(repr, back[0].collect())) == sorted(
        map(repr, back[1].collect())
    )
    assert len(back[0].collect()) == len(rows)
    assert _duck(d_dir) == _duck(s_dir)
    assert len(glob.glob(os.path.join(d_dir, "*", "*.zstd.parquet"))) == len(
        subdirs
    )


@pytest.mark.parametrize("kind", ["timestamp", "field metadata"])
def test_frames_without_a_driver_twin_go_to_the_spark_writer(
    spark, tmp_path, kind
):
    """A session-zone TIMESTAMP has no driver-side twin of Spark's
    INT96 column, and field metadata lives in a footer key the driver
    writer does not write; a local frame holding either, at any
    depth, is written by Spark and reads back as written."""
    assert _driver_writable(T.StructType(DATA_FIELDS))
    for bad in (
        T.TimestampType(),
        T.ArrayType(T.TimestampType()),
        T.StructType([T.StructField("t", T.TimestampType())]),
        T.StructType([T.StructField("s", T.StringType(), True, {"c": 1})]),
        T.MapType(
            T.StringType(),
            T.StructType([T.StructField("s", T.LongType(), True, {"c": 1})]),
        ),
    ):
        assert not _driver_writable(bad)
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    if kind == "timestamp":
        col, value = T.StructField("x", T.TimestampType()), ts
    else:
        col, value = T.StructField("x", T.StringType(), True, {"c": 1}), "é"
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            col,
            T.StructField("data_source", T.StringType()),
        ]
    )
    df = local_frame(spark, [(1, value, "chase")], schema)
    lake = TransactionalLake(str(tmp_path / "lake"))
    _, jobs = _jobs_of(spark, f"write-{kind}", lambda: lake.append(spark, df))
    assert jobs != []
    back = lake.read(spark)
    assert [tuple(r) for r in back.collect()] == [(1, value, "chase")]
    assert back.schema["x"].metadata == col.metadata
    assert_sidecar_read_matches(spark, lake)
