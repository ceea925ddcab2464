"""Training-corpus export sink: size-bounded shards + manifest.

The last stage of the LLM data pipeline: curated documents leave the
lake as deterministic, size-bounded shards a trainer can stream.

- `maxRecordsPerFile` bounds shard size WITHOUT a repartition — Spark
  rolls files within each task, so no extra shuffle is paid for the
  bound.
- An optional `shard_by` column (e.g. a hash bucket) makes shard
  membership deterministic and reproducible across runs — required
  when training jobs checkpoint by shard.
- A manifest (one row per file: path, rows, bytes) is computed by
  reading BACK what was written — counted from the files themselves,
  not from the plan that produced them, so the manifest cannot drift
  from the data.

Formats: parquet (columnar, preferred) or jsonl (line-oriented, for
tokenizer pipelines that stream text).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from babylon_data_loader_spark.session import local_frame


def export_corpus(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    max_records_per_file: int = 100_000,
    shard_by: str | None = None,
    n_shards: int | None = None,
) -> None:
    """Write `df` as size-bounded shards.

    With `shard_by`/`n_shards`, rows are repartitioned by
    hash-bucketed key so the SAME row always lands in the same shard
    group across runs (determinism for resumable training)."""
    writer = df
    if shard_by is not None:
        n = n_shards or 16
        writer = df.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(shard_by)), F.lit(n))
        ).repartition(n, "_shard").drop("_shard")
    out = writer.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if fmt == "parquet":
        out.parquet(path)
    elif fmt == "jsonl":
        out.json(path)
    else:
        raise ValueError(f"unsupported export format: {fmt}")


def export_manifest(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """One row per shard file: (file, n_rows, n_bytes) — counted from
    the written files themselves."""
    reader = (
        spark.read.parquet(path)
        if fmt == "parquet"
        else spark.read.json(path)
    )
    per_file = (
        reader.select(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("file")
        )
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    sizes = [
        (name, os.path.getsize(os.path.join(path, name)))
        for name in sorted(os.listdir(path))
        if not name.startswith(("_", "."))
    ]
    size_df = local_frame(spark, sizes, "file STRING, n_bytes BIGINT")
    return per_file.join(size_df, on="file")
