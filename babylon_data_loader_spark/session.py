"""SparkSession construction and per-session runtime configuration.

The reference wires a Mongo connection lifecycle (reference
storage/mongo.go:92-110, main.go:66-75); here the analogous resource is
the SparkSession. Two entry points:

- :func:`build_session` — create a tuned local session (tests, bench).
- :func:`configure_session` — apply the *runtime-settable* subset of our
  config to an externally-provided session (the correctness driver owns
  its own session; we must not assume builder-time config).

:func:`local_frame` is the one way library code turns driver-side rows
into a DataFrame; :func:`arrow_table` is the row conversion it uses.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Runtime-settable SQL confs required for correct semantics regardless of
# who built the session.
_RUNTIME_CONFS: dict[str, str] = {
    # Older testdata generations stored `events.ts` as parquet
    # TIMESTAMP(NANOS), which Spark 4 cannot map to a timestamp type;
    # this reads it as BIGINT nanoseconds (exact, no precision loss).
    # Current generations store micros (TIMESTAMP_NTZ) — harmless then.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin the session timezone so timestamp→epoch conversions
    # (schemas.event_ts_us) match DuckDB's naive epoch_us exactly,
    # regardless of the host timezone the driver session runs in.
    "spark.sql.session.timeZone": "UTC",
    # Strict date parsing parity with the reference's time.Parse
    # (reference datalake/datalake.go:224): no legacy lenient fallback.
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # Runtime re-planning: coalesce tiny shuffle partitions, convert
    # sort-merge joins to broadcast when a side turns out small, split
    # skewed partitions. Free wins at every scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Partition discovery for bare-path parquet reads launches a
    # distributed listing JOB once a directory tree has more than
    # this many paths (default 32). Every bucket-partitioned at-rest
    # store (detsig: 256 bucket dirs; LSH band stores) crossed that
    # default, so each store ACCESS paid a full job-scheduling
    # round-trip just to list a local directory tree — measured
    # 645 ms -> 148 ms per access at threshold 1024 (r15). Bucket
    # counts are design constants (<= 256), not data-scale, so
    # driver-side listing stays O(buckets) metadata work at any
    # corpus size; on deployments whose warehouse lives on a
    # high-latency object store, lower SPARK_GRAFT_LIST_THRESHOLD to
    # re-enable distributed listing.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
        "SPARK_GRAFT_LIST_THRESHOLD", "1024"
    ),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment; semantics-critical reads
            # (nanos timestamps) will surface loudly if truly absent.
            pass
    return spark


def build_session(
    app_name: str = "babylon_data_loader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Defaults target the local test/bench harness (local[N] per
    SPARK_GRAFT_CPUS); on a real cluster pass ``master=None`` with an
    external cluster manager and size ``shuffle_partitions`` to
    ~2-3x total executor cores (or leave AQE to coalesce).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow for any pandas-UDF path and fast toPandas; UDTFs too
        # (default UDTF execution is row-at-a-time pickling).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # Small broadcast threshold bump: dimension tables (region,
        # nation, supplier) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)


def arrow_table(rows: Iterable, schema: StructType):
    """Driver-side ``rows`` as a pyarrow Table of ``schema``.

    Values are checked and converted exactly as
    ``spark.createDataFrame(<list>, schema)`` does (the same type
    verifier, then ``schema.toInternal``), so a row gives the list
    path's values or raises: Arrow refuses what it cannot hold
    exactly, e.g. a decimal with more digits than its scale or an int
    for a string column. :func:`local_frame` and the lake's driver-side
    version-dir writer both convert through here.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow_schema = to_arrow_schema(schema)
    # Internal values (epoch days/micros, tuples for structs) are what
    # Arrow's date, timestamp and struct types take as input.
    return pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame backed by a JVM local relation.

    ``spark.createDataFrame(<list>, schema)`` ships pickled rows as a
    Python RDD split ``defaultParallelism`` ways, so every job touching
    the frame starts Python workers for a handful of rows. Here the rows
    go to the JVM as one Arrow table (:func:`arrow_table`, which checks
    and converts them as the list path does) instead: the plan leaf is a
    ``LocalRelation`` (no Python worker, no split, broadcast without a
    job) and an empty row list is an empty relation the optimizer prunes.
    A NOT NULL field of a struct that holds a nested or timestamp field
    raises: PySpark's Arrow path rebuilds such structs as nullable.
    ``schema`` is a StructType or a DDL string.
    """
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
