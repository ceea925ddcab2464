"""Canonical schemas for the engine.

Core fact table derived from the reference Transaction model
(reference datalake/model/transaction.go:4-15, populated at
datalake/datalake.go:257-268) plus the sync-log audit row
(datalake/model/sync_log.go:6-10), and helpers for the driver-provided
testdata tables (/root/testdata/sf*/ — see TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def as_nullable(dtype: DataType) -> DataType:
    """``dtype`` with every field, element and map value nullable, field
    metadata kept — the schema Spark's file sources report for any
    stored parquet schema (Scala's ``DataType.asNullable``). Lake
    version dirs and stores record their schema this way."""
    if isinstance(dtype, StructType):
        return StructType(
            [
                StructField(f.name, as_nullable(f.dataType), True, f.metadata)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(as_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(
            as_nullable(dtype.keyType), as_nullable(dtype.valueType), True
        )
    return dtype


def stored_schema(schema: StructType, partition_cols) -> StructType:
    """The schema a parquet read reports for ``schema`` written
    partitioned by ``partition_cols``: every field nullable
    (:func:`as_nullable`), partition columns last. Lake version dirs
    and stores record their schema this way, so a read declared with
    it types every column, partition columns included, as written:
    hive inference would read a ``"0042"`` partition value back as the
    integer 42."""
    cols = as_nullable(schema).fields
    return StructType(
        [f for f in cols if f.name not in partition_cols]
        + [f for c in partition_cols for f in cols if f.name == c]
    )


# The 10-field fact row. `posting_date` is deliberately a STRING in
# MM/dd/yyyy form — the reference stores the re-formatted string and the
# upsert key compares it as a string (datalake/datalake.go:259,
# storage/mongo_repository.go:44-50). Money stays DOUBLE (not DECIMAL)
# for behavioral parity with the reference's float64.
TRANSACTION_SCHEMA = StructType(
    [
        StructField("details", StringType()),
        StructField("posting_date", StringType()),
        StructField("description", StringType()),
        StructField("amount", DoubleType()),
        StructField("category", StringType()),
        StructField("type", StringType()),
        StructField("balance", DoubleType()),
        StructField("check_or_slip_num", StringType()),
        StructField("data_source", StringType()),
        StructField("account_id", StringType()),
    ]
)

# Upsert identity (reference storage/mongo_repository.go:44-50).
# NOTE: amount/balance are NOT part of the key — re-ingest is idempotent
# and same-key rows merge (last write wins).
TRANSACTION_KEY = [
    "details",
    "posting_date",
    "description",
    "data_source",
    "account_id",
]

SYNC_LOG_SCHEMA = StructType(
    [
        StructField("collection_name", StringType()),
        StructField("sync_timestamp", TimestampType()),
        StructField("records_uploaded", LongType()),
    ]
)

# Raw CSV header aliases for the posting-date column, in priority order
# (reference datalake/datalake.go:184-189). Headers are lower-cased
# before this lookup, so only the lower-case forms matter here.
POSTING_DATE_ALIASES = ["post date", "posting date"]

# Known lower-cased CSV columns consumed by the ingest mapping
# (reference datalake/datalake.go:257-268). Unknown columns are dropped,
# missing ones default to '' — reproduced in sources/csv_source.py.
RAW_CSV_COLUMNS = [
    "details",
    "post date",
    "posting date",
    "description",
    "amount",
    "category",
    "type",
    "balance",
    "check or slip #",
]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Schema cache for single-file testdata tables, keyed PER PATH with a
# (size, mtime_ns) freshness stamp. Parquet schema INFERENCE launches
# a footer-reading Spark job per read (~85 ms of a ~107 ms
# spark.read.parquet on this box); the schema is pure metadata fully
# determined by the file bytes, so re-deriving it per load_table call
# is waste — r15, guide §1.2 (per-call fixed work). The FILE LISTING
# and all data reads stay fresh per call: only the schema is cached;
# a regenerated file (new size/mtime) misses the stamp, re-infers,
# and REPLACES the path's entry — so the cache is bounded at the
# number of table paths instead of growing across regenerations in a
# long-lived process (r16, r15 ADVICE). Directory-style and
# remote-scheme paths skip the cache.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    `configure_session` pins the confs the reads depend on: session
    timezone UTC (so timestamp→epoch conversions match DuckDB's naive
    `epoch_us`) and `nanosAsLong` (older testdata generations stored
    `events.ts` as TIMESTAMP(NANOS), which Spark can only read as
    BIGINT nanos; current generations store micros → TIMESTAMP_NTZ).
    """
    import os

    from babylon_data_loader_spark.session import configure_session

    configure_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    if "://" in path or not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    stamp = (st.st_size, st.st_mtime_ns)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == stamp:
        schema = hit[1]
    else:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[path] = (stamp, schema)
    return spark.read.schema(schema).parquet(path)


def event_ts_us(df: DataFrame) -> Column:
    """Epoch-microseconds BIGINT view of `events.ts`, whatever its
    physical encoding.

    The driver regenerates testdata between rounds and has shipped two
    encodings of `ts`: parquet TIMESTAMP(NANOS) (arrives as BIGINT
    nanos under `nanosAsLong`) and TIMESTAMP(MICROS) (arrives as
    TIMESTAMP_NTZ). Both engines' oracles compare in integer
    microseconds (`epoch_us(ts)` in DuckDB), so every query goes
    through this one conversion point. With the session timezone
    pinned to UTC, `unix_micros(cast(ts as timestamp))` on a naive
    timestamp equals DuckDB's `epoch_us` exactly.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":  # legacy nanos encoding
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def events_with_time(df: DataFrame) -> DataFrame:
    """Add derived microsecond (`ts_us`) and TIMESTAMP (`ts_ts`) views
    of `ts`; comparisons stay in integer microseconds when a DuckDB
    oracle is involved (micro precision on both sides)."""
    us = event_ts_us(df)
    return df.withColumn("ts_us", us).withColumn(
        "ts_ts", F.timestamp_micros(us)
    )
