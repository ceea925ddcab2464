"""Driver-side rows become JVM local relations (session.local_frame).

- round trip: every type the library passes gives the same values as
  ``spark.createDataFrame(<list>)``, and a value Arrow cannot hold
  exactly raises;
- plans: the insert row and the CSV header lookup are LocalRelations,
  never a Python RDD scan;
- guard: no library module outside the distributed header sniff builds
  a frame from driver data any other way;
- a clean ingest never reads its failures back, and the status table is
  read with its declared schema.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
from decimal import Decimal

import pytest

from babylon_data_loader_spark.session import local_frame

HEADER = (
    "Details,Posting Date,Description,Category,Amount,Type,Balance,"
    "Check or Slip #"
)
ROWS = [
    "DEBIT,01/01/2024,groceries,Shopping,-75.77,DEBIT_CARD,11190.76,",
    "CREDIT,01/02/2024,payment,Payment,1000.00,PAYMENT,10114.36,",
]

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "babylon_data_loader_spark",
)

ALL_TYPES = (
    "s STRING, i INT, l BIGINT, d DOUBLE, b BOOLEAN, dec DECIMAL(12,2),"
    " day DATE, ts TIMESTAMP, ids ARRAY<BIGINT>,"
    " cents ARRAY<STRUCT<cid: INT, cent: ARRAY<BIGINT>>>"
)
ALL_ROWS = [
    (
        "a", 1, 2**40, 1.5, True, Decimal("12.34"), dt.date(2020, 1, 2),
        dt.datetime(2021, 3, 4, 5, 6, 7, 890123), [1, None, 3],
        [{"cid": 1, "cent": [1, 2]}, (2, [3])],
    ),
    (None,) * 10,
    (
        "é", -5, -1, float("nan"), False, Decimal("-0.01"),
        dt.date(1969, 12, 31),
        dt.datetime(1950, 1, 1, tzinfo=dt.timezone.utc), [], [],
    ),
]


def _write_csv(directory: str, lines: list[str]) -> str:
    path = os.path.join(directory, "chase1234.csv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def _plans(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString() + qe.executedPlan().toString()


def test_local_frame_matches_list_path(spark):
    for rows in (ALL_ROWS, []):
        local = local_frame(spark, rows, ALL_TYPES)
        listed = spark.createDataFrame(rows, ALL_TYPES)
        assert local.schema == listed.schema
        # repr: NaN != NaN, and repr also tells Decimal from float
        assert repr(local.collect()) == repr(listed.collect())


def test_local_frame_raises_instead_of_changing_values(spark):
    with pytest.raises(Exception, match="data loss"):
        local_frame(spark, [(Decimal("1.234"),)], "x DECIMAL(5,2)")
    with pytest.raises(Exception):
        local_frame(spark, [(7,)], "x DOUBLE")
    not_null_in_nested = (
        "x ARRAY<STRUCT<id: BIGINT NOT NULL, v: ARRAY<BIGINT>>>"
    )
    with pytest.raises(Exception, match="non-nullable"):
        local_frame(spark, [([(1, [2])],)], not_null_in_nested)


def test_insert_row_and_header_lookup_are_local_relations(
    spark, tmp_path, monkeypatch
):
    from babylon_data_loader_spark.api import add_transaction
    from babylon_data_loader_spark.operators.tx_lake import TransactionalLake
    from babylon_data_loader_spark.sources.csv_source import (
        group_by_header,
        read_header_group,
    )

    appended = []
    monkeypatch.setattr(
        TransactionalLake,
        "append",
        lambda self, spark, df: appended.append(df),
    )
    add_transaction(spark, str(tmp_path / "lake"), {"type": "egress"})
    path = _write_csv(str(tmp_path), [HEADER, *ROWS])
    (group,) = group_by_header([path], spark=spark)
    for df in (appended[0], read_header_group(spark, group)):
        plans = _plans(df)
        assert "LocalRelation" in plans or "LocalTableScan" in plans
        assert "ExistingRDD" not in plans and "LogicalRDD" not in plans


def _frames_from_driver_data() -> list[tuple[str, str, str]]:
    """(module, enclosing function, call) for every createDataFrame /
    sparkContext.parallelize call in the library's non-query modules."""
    found = []
    paths = [os.path.join(PKG, "api.py")] + [
        os.path.join(root, name)
        for sub in ("ingest", "sources", "operators")
        for root, _, names in os.walk(os.path.join(PKG, sub))
        for name in names
        if name.endswith(".py")
    ]
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                ):
                    continue
                name = node.func.attr
                if name == "createDataFrame" or (
                    name == "parallelize"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "sparkContext"
                ):
                    found.append((os.path.relpath(path, PKG), fn.name, name))
    return sorted(set(found))


def test_driver_data_goes_through_local_frame():
    # Only the >=4096-file distributed header sniff may distribute
    # driver data: its Python work is per-file I/O on executors.
    assert _frames_from_driver_data() == [
        ("sources/csv_source.py", "group_by_header", "parallelize"),
        ("sources/csv_source.py", "read_header_group", "createDataFrame"),
        ("sources/csv_source.py", "read_header_group", "parallelize"),
    ]


def test_clean_ingest_skips_failure_read_back(spark, tmp_path, monkeypatch):
    from babylon_data_loader_spark.config import EngineConfig
    from babylon_data_loader_spark.ingest import ingest
    from babylon_data_loader_spark.ingest.pipeline import (
        STATUS_SCHEMA,
        IngestResult,
    )

    reads = []
    file_status = IngestResult.file_status
    monkeypatch.setattr(
        IngestResult,
        "file_status",
        lambda self: reads.append(1) or file_status(self),
    )
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    _write_csv(str(data_dir), [HEADER, *ROWS])
    result = ingest(
        spark,
        EngineConfig(
            unprocessed_dir=str(data_dir),
            processed_dir=str(tmp_path / "done"),
            move_processed_files=False,
            lake_dir=str(tmp_path / "lake"),
        ),
    )
    assert (result.failed_files, result.processed_files) == (0, 1)
    assert result.failures == {}
    assert len(reads) == 1  # the totals; the failures are never read
    status = result.file_status()
    assert status.schema.fieldNames() == STATUS_SCHEMA.fieldNames()[1:]
    assert [tuple(r) for r in status.collect()] == [
        ("chase1234.csv", "processed", None, 2, 2)
    ]
