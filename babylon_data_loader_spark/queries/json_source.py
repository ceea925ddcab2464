"""JSONL (newline-delimited JSON) source lane.

JSONL is the lingua franca of LLM training-data pipelines (one JSON
document per line); the reference only reads CSV (csv/csv.go:40-100),
so this extends the source surface the same way the CSV lane works:
explicit schema (never inference at scale — a schema-inference pass
is a full extra scan of 100 TB), distributed scan, per-row validation.

The declared query proves byte-fidelity of the encode→decode
roundtrip: `documents` is staged to JSONL by the engine's writer and
read back with `spark.read.schema(...).json`, and the oracle
aggregates the ORIGINAL parquet — any loss of text content (newlines,
quotes, unicode escapes) in either direction breaks the exact match
on summed text lengths and md5-distinct counts.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.queries import query
from babylon_data_loader_spark.schemas import load_table

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_ORACLE = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_texts
FROM documents
GROUP BY lang, source
"""


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Distributed JSONL scan with the explicit DOC_SCHEMA (PERMISSIVE:
    malformed lines become all-null rows rather than failing the
    scan — per-row error isolation, the JSONL analog of the CSV
    lane's short-row handling, reference csv/csv.go:82-84)."""
    return spark.read.schema(DOC_SCHEMA).json(path)


def write_jsonl(df: DataFrame, path: str, shards: int | None = None) -> None:
    """Write a DataFrame as sharded JSONL (one JSON object per line,
    UTF-8, newline/quote content escaped per RFC 8259)."""
    out = df.repartition(shards) if shards else df
    out.write.mode("overwrite").json(path)


@query("q_jsonl_roundtrip", oracle=_ORACLE)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → engine JSONL writer → schema'd JSONL scan →
    aggregate; oracle aggregates the original parquet, so the match
    proves the roundtrip is lossless."""
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_jsonl_{uuid.uuid4().hex[:12]}")

    docs = load_table(spark, sf_dir, "documents")
    try:
        write_jsonl(docs, work, shards=4)
        back = read_jsonl(spark, work)
        final = back.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.countDistinct(F.md5(F.col("text").cast("binary")))
            .cast("bigint")
            .alias("distinct_texts"),
        )
        rows = final.collect()  # grouped summary rows (small)
        out_schema = final.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed ORC scan with the explicit DOC_SCHEMA — same
    no-inference-at-scale posture as the JSONL lane; ORC carries its
    own types so the schema acts as a projection/assertion."""
    return spark.read.schema(DOC_SCHEMA).orc(path)


def write_orc(df: DataFrame, path: str, shards: int | None = None) -> None:
    """Sharded ORC writer (columnar alternative when a downstream
    consumer is Hive/ORC-native)."""
    out = df.repartition(shards) if shards else df
    out.write.mode("overwrite").orc(path)


@query("q_orc_roundtrip", oracle=_ORACLE)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → engine ORC writer → schema'd ORC scan → aggregate;
    the oracle aggregates the original parquet (same contract as
    q_jsonl_roundtrip), so the match proves the columnar roundtrip is
    lossless."""
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    work = os.path.join(wh, f"_orc_{uuid.uuid4().hex[:12]}")

    docs = load_table(spark, sf_dir, "documents")
    try:
        write_orc(docs, work, shards=4)
        back = read_orc(spark, work)
        final = back.groupBy("lang", "source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
            F.countDistinct(F.md5(F.col("text").cast("binary")))
            .cast("bigint")
            .alias("distinct_texts"),
        )
        rows = final.collect()  # grouped summary rows (small)
        out_schema = final.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out_schema)
