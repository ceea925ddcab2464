"""The apiClient query/write surface as engine functions
(reference apiClient/apiClient.go — SURVEY.md §2.4).

Read functions return DataFrames against the lake; the write function
is the single-row insert with a server-assigned id (Q3/S13).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from babylon_data_loader_spark.schemas import TRANSACTION_SCHEMA
from babylon_data_loader_spark.session import local_frame


def get_transaction_by_id(
    transactions: DataFrame, transaction_id: str, transaction_type: str
) -> DataFrame:
    """Q1 point lookup (apiClient.go:188-243): id + type equi-filter;
    both predicates push to the scan."""
    return transactions.filter(
        (F.col("transaction_id") == transaction_id)
        & (F.col("type") == transaction_type)
    )


def get_transaction_history(
    transactions: DataFrame,
    transaction_type: str,
    start_epoch_s: int,
    end_epoch_s: int,
) -> DataFrame:
    """Q2 time-range scan by type (apiClient.go:305-358): epoch-second
    bounds, inclusive, matching the UtcTimestamp contract."""
    return transactions.filter(
        (F.col("type") == transaction_type)
        & F.col("ts_us").between(
            start_epoch_s * 1_000_000, end_epoch_s * 1_000_000
        )
    )


def add_transaction(
    spark: SparkSession, lake_path: str, txn: dict
) -> str:
    """Q3/S13 single-row insert (apiClient.go:246-302): append one row,
    return the engine-assigned transaction id.

    The reference's server assigns the id; here it is a UUID stamped
    on the row. The row, id included, is one ``local_frame`` (a
    ``withColumn`` would hide the local relation), so the lake writes
    its version dir from the driver with no Spark job: an insert is a
    manifest read, one small parquet file and a commit, 0.03–0.05 s on
    4 cores against 0.10–0.17 s with a Spark write job.

    Single-row appends are still an anti-pattern at scale — batch
    through ingest(); the API surface exists for parity. Each insert
    leaves one more file that the partition's lookups open until
    ``compact()``: after 100 inserts a point lookup's execution took
    1.7× its time after one (``scripts/profile_lake_reads.py``).
    """
    from babylon_data_loader_spark.operators.tx_lake import (
        TransactionalLake,
    )

    txn_id = str(uuid.uuid4())
    row = {field.name: txn.get(field.name) for field in TRANSACTION_SCHEMA.fields}
    schema = StructType(
        [*TRANSACTION_SCHEMA.fields, StructField("transaction_id", StringType())]
    )
    df = local_frame(spark, [(*row.values(), txn_id)], schema)
    # open(): honor a migrated lake's recorded partition column
    TransactionalLake.open(lake_path).append(spark, df)
    return txn_id


def do_echo(spark: SparkSession, value: str) -> str:
    """Q4 echo (apiClient.go:131-185)."""
    return spark.sql("SELECT :v AS value", args={"v": value}).collect()[0][
        "value"
    ]


# -- apiClient error contract (apiClient.go:22-57) ---------------------------


class BabylonAPIError(Exception):
    """Server-reported domain error (errHTTPBabylonAPI,
    apiClient.go:28,56-57): the response carried a DebugMessage whose
    text becomes the error."""


class UnexpectedStatusCodeError(Exception):
    """Non-OK status outside the handled set (errHTTPUnexpectedStatusCode,
    apiClient.go:24,40-42)."""

    def __init__(self, status_code: int) -> None:
        super().__init__(f"unexpected http status code, {status_code}")
        self.status_code = status_code


class BodyUnmarshallError(Exception):
    """Malformed response body (errHTTPBodyUnmarshall, apiClient.go:26)."""


def classify_response(endpoint: str, status_code: int, body: dict) -> dict:
    """Reproduce the reference client's status→error mapping exactly.

    Per apiClient.go:
    - ``echo`` special-cases 400 and 500 ONLY (apiClient.go:161-165):
      those surface the server's DebugMessage as BabylonAPIError; any
      other non-200 (404 included!) is UnexpectedStatusCodeError.
    - ``get_transaction`` / ``get_history`` treat EVERY status ≥ 400 as
      a DebugMessage-bearing BabylonAPIError (apiClient.go:223-242,
      338-357); 200 is success; 1xx/3xx are unexpected.
    - ``add_transaction`` succeeds on 201 Created, not 200
      (apiClient.go:282-301).

    `body` is the parsed response payload; on success it is returned
    unchanged, on a DebugMessage path its 'message' field feeds the
    error (a missing/None body on an error path is a
    BodyUnmarshallError, mirroring the failed json.Unmarshal).
    """
    success = {"echo": 200, "get_transaction": 200, "get_history": 200,
               "add_transaction": 201}
    if endpoint not in success:
        raise ValueError(f"unknown endpoint: {endpoint}")
    if status_code == success[endpoint]:
        return body
    if endpoint == "echo":
        domain = status_code in (400, 500)
    else:
        domain = status_code >= 400
    if domain:
        if not isinstance(body, dict) or "message" not in body:
            raise BodyUnmarshallError(
                "errror unmarshalling HTTP response body"  # sic, .go:26
            )
        raise BabylonAPIError(
            f"error returned from babylon api, {body['message']}"
        )
    raise UnexpectedStatusCodeError(status_code)
