"""End-to-end ingest: directory → normalize/validate → merge → audit.

The reference's orchestration (ingest/sink.go:36-93 →
datalake/client.go:33-79 → datalake/datalake.go:77-154) with its
sequential per-file loop replaced by one declarative plan; per-file
error isolation becomes per-file *status accounting* computed from the
same scan (a file's rows are identifiable via input_file_name) and
WRITTEN to a queryable status table — the driver collects one
aggregate row of counts per run, so its footprint is O(1) at any file
count; the failure map materializes lazily only when asked for.

Stats parity (datalake/stats.go:9-14) with the SURVEY §4 quirk fixes:
failures counted once (quirk 1), `total_files` = every directory entry
(reference semantics; the non-CSV/CSV split is kept explicit).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from babylon_data_loader_spark.config import EngineConfig
from babylon_data_loader_spark.ingest.normalize import (
    normalize_transactions,
    validate_transactions,
)
from babylon_data_loader_spark.operators.merge import merge_upsert
from babylon_data_loader_spark.session import local_frame
from babylon_data_loader_spark.sources.csv_source import (
    decoded_basename,
    list_csv_files,
    read_csv_dir,
)
from babylon_data_loader_spark.sources.parquet_lake import append_sync_log

# The per-file status table (`<lake>/ingest_file_status`): written by
# `_write_status`, read back with this schema so no footer inference.
STATUS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("file", StringType()),
        StructField("status", StringType()),
        StructField("reason", StringType()),
        StructField("raw_rows", LongType()),
        StructField("valid_rows", LongType()),
    ]
)


@dataclass(init=False)
class IngestResult:
    """Run stats (reference Stats, datalake/stats.go:9-14).

    Counts are plain ints (one aggregate row each run). The per-file
    failure map is LAZY: the run writes a per-file status table to the
    lake (`<lake>/ingest_file_status`, one row per file with
    status/reason/row counts) and `failures` materializes a dict from
    it only on access — so the driver never holds O(files) state on
    the hot path, and a 10⁸-file backfill's audit trail lives where
    audit data belongs, in a queryable table (reference
    Stats.Failures, datalake/stats.go:13, persisted instead of
    in-process). ``IngestResult()`` is an empty result; ``ingest()``
    sets the fields as the run counts them."""

    total_files: int = 0
    processed_files: int = 0
    failed_files: int = 0
    skipped_entries: int = 0
    records_uploaded: int = 0
    _failures: dict[str, str] | None = field(default=None, repr=False)
    _status_spark: SparkSession | None = field(default=None, repr=False)
    _status_path: str | None = field(default=None, repr=False)
    _run_id: str | None = field(default=None, repr=False)

    def _bind_status(
        self, spark: SparkSession, path: str, run_id: str
    ) -> None:
        self._status_spark = spark
        self._status_path = path
        self._run_id = run_id
        self._failures = None  # materialize on demand

    def file_status(self):
        """This run's per-file status DataFrame (file, status, reason,
        raw_rows, valid_rows) — the scalable way to inspect failures."""
        if self._status_spark is None:
            raise ValueError("no status table bound to this result")
        return (
            self._status_spark.read.schema(STATUS_SCHEMA)
            .parquet(self._status_path)
            .filter(F.col("run_id") == self._run_id)
            .drop("run_id")
        )

    @property
    def failures(self) -> dict[str, str]:
        """file → reason for this run's failures. Materialized from
        the status table on first access (not read at all when the run
        counted none); prefer :meth:`file_status` when the failure count
        may be large."""
        if self._failures is None and not self.failed_files:
            self._failures = {}
        if self._failures is None:
            self._failures = {
                r["file"]: r["reason"]
                for r in self.file_status()
                .filter(F.col("status") == "failed")
                .select("file", "reason")
                .collect()
            }
        return self._failures

    @failures.setter
    def failures(self, value: dict[str, str]) -> None:
        self._failures = value

    def to_frame(self, spark: SparkSession):
        """Stats as a one-row DataFrame with the failures as a
        MAP<STRING,STRING> column (reference Stats.Failures,
        datalake/stats.go:13) — appendable to an audit table."""
        from pyspark.sql import functions as F

        row = local_frame(
            spark,
            [
                (
                    self.total_files,
                    self.processed_files,
                    self.failed_files,
                    self.skipped_entries,
                    self.records_uploaded,
                    list(self.failures.items()),
                )
            ],
            "total_files BIGINT, processed_files BIGINT, failed_files BIGINT,"
            " skipped_entries BIGINT, records_uploaded BIGINT,"
            " failures ARRAY<STRUCT<file: STRING, reason: STRING>>",
        )
        return row.withColumn(
            "failures", F.map_from_entries(F.col("failures"))
        )


def ingest(spark: SparkSession, config: EngineConfig) -> IngestResult:
    """Run the full ingest pipeline once (batch mode).

    The streaming shape of the same upsert (readStream -> foreachBatch
    MERGE -> AvailableNow) is the ``q_stream_replay`` lane.
    """
    result = IngestResult()
    directory = config.unprocessed_dir
    if not os.path.isdir(directory):
        raise FileNotFoundError(
            f"unprocessed directory does not exist: {directory}"
        )

    entries = os.listdir(directory)
    result.total_files = len(entries)  # reference counts every entry
    csv_files, skipped = list_csv_files(directory)
    result.skipped_entries = len(skipped)
    skipped_names = [
        os.path.basename(p) for p in skipped if os.path.isfile(p)
    ]

    run_id = uuid.uuid4().hex
    status_path = os.path.join(config.lake_dir, "ingest_file_status")

    if not csv_files:
        if skipped_names:
            status = _not_csv_status(spark, skipped_names)
            _write_status(spark, status_path, run_id, status)
            result._bind_status(spark, status_path, run_id)
        result.failed_files = len(skipped_names)
        return result

    raw = read_csv_dir(spark, directory)
    normalized = normalize_transactions(raw)

    # One row per FILE: raw rows, valid rows, extractor verdict —
    # written to the status table, NEVER collected per file. Driver
    # state stays O(1): one aggregate row of counts below.
    file_stats = normalized.groupBy(
        # Decoded so the key matches os.path.basename(p) even for
        # names input_file_name() percent-encodes (e.g. spaces).
        decoded_basename("_input_file").alias("file")
    ).agg(
        F.count(F.lit(1)).alias("raw_rows"),
        F.sum(
            (
                F.col("_valid_date")
                & F.col("_valid_amount")
                & F.col("data_source").isNotNull()
            ).cast("long")
        ).alias("valid_rows"),
        F.max(F.col("data_source").isNull().cast("int")).alias("rejected"),
    )
    reason = (
        F.when(
            F.col("rejected") == 1,
            F.lit("unable to extract source info from filename"),
        )
        .when(
            # P11 per-file sanity guard (datalake.go:200-204).
            (F.col("raw_rows") > 0)
            & (F.coalesce(F.col("valid_rows"), F.lit(0)) == 0),
            F.lit("no valid transactions found"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    scanned_status = file_stats.select(
        "file",
        F.when(reason.isNotNull(), F.lit("failed"))
        .otherwise(F.lit("processed"))
        .alias("status"),
        reason.alias("reason"),
        "raw_rows",
        F.coalesce(F.col("valid_rows"), F.lit(0)).alias("valid_rows"),
    )
    status = scanned_status.unionByName(
        _not_csv_status(spark, skipped_names)
    )
    _write_status(spark, status_path, run_id, status)
    result._bind_status(spark, status_path, run_id)

    # ONE driver-side row regardless of file count.
    totals = (
        result.file_status()
        .agg(
            F.sum((F.col("status") == "failed").cast("long")).alias(
                "n_failed"
            ),
            F.sum(
                F.when(
                    F.col("status") == "processed", F.col("valid_rows")
                ).otherwise(F.lit(0))
            ).alias("uploaded"),
        )
        .collect()[0]
    )
    result.failed_files = int(totals["n_failed"] or 0)
    result.records_uploaded = int(totals["uploaded"] or 0)

    valid = validate_transactions(
        normalized.filter(F.col("data_source").isNotNull())
    ).drop("_input_file")
    if result.records_uploaded > 0:
        merge_upsert(spark, config.transactions_path, valid)
        append_sync_log(spark, config.sync_log_path, valid)

    # The os-level move is inherently per-file driver work; it pulls
    # only the FAILED names (usually few) to exclude, never the full
    # per-file stats. Files absent from the scan parsed to zero rows —
    # empty/header-only — and still count as processed (csv/csv.go:58-62).
    failed_names = set(result.failures)
    processed = {
        os.path.basename(p)
        for p in csv_files
        if os.path.basename(p) not in failed_names
    }
    result.processed_files = len(processed)

    if config.move_processed_files:
        os.makedirs(config.processed_dir, exist_ok=True)
        for path in csv_files:
            name = os.path.basename(path)
            if name in processed:
                # Absolute source path (SURVEY §4 quirk 2 fixed).
                shutil.move(path, os.path.join(config.processed_dir, name))

    return result


def _not_csv_status(spark: SparkSession, names: list[str]):
    """Status rows for directory entries that are not CSV files."""
    return local_frame(spark, [(n,) for n in names], "file string").select(
        "file",
        F.lit("failed").alias("status"),
        F.lit("not a csv file").alias("reason"),
        F.lit(0).cast("long").alias("raw_rows"),
        F.lit(0).cast("long").alias("valid_rows"),
    )


def _write_status(
    spark: SparkSession, path: str, run_id: str, status
) -> None:
    """Append this run's per-file rows to the status table."""
    status.withColumn("run_id", F.lit(run_id)).select(
        *[F.col(f.name).cast(f.dataType) for f in STATUS_SCHEMA]
    ).write.mode("append").parquet(path)
