"""Physical-layout optimization for parquet tables (OPTIMIZE analog).

Why this exists: Spark's scan parallelism is bounded by parquet ROW
GROUPS, not bytes — a byte-range split only reads the row groups whose
midpoint falls inside it, so a 13 MB file with ONE row group is a
one-task scan no matter how many cores the cluster has. At 100 TB the
same failure mode shows up as a few huge writer-side files serializing
every downstream scan. The reference has the same lever in miniature:
its unit of parallelism is the FILE (one sequential loop per file,
reference datalake/client.go:68-76); here the unit is the row group,
and this operator rewrites a table so that unit matches the cluster.

`optimize_layout` rewrites a parquet table into right-sized files
(and row groups), optionally range-sorted on given columns so
per-file min/max footers become selective — the same reason Delta's
OPTIMIZE ... ZORDER exists. Sorting by the dominant filter column
turns file skipping from "read everything" into "read the few files
whose [min,max] overlaps the predicate".
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def zorder_column(df: DataFrame, cols: list[str]) -> Column:
    """Morton (Z-order) key over `cols`: each column is linearly
    bucketed into 2^10 cells between its min and max (one
    tiny agg — metadata, not data), and the cell indices' bits are
    interleaved JVM-side. Sorting by this key clusters rows so that
    per-file min/max footers are selective on EVERY participating
    column, not just a leading one — the reason Delta's
    OPTIMIZE ... ZORDER exists. Linear (not quantile) bucketing keeps
    the key a pure projection; heavy skew in a column degrades its
    share of the selectivity but never correctness (skipping is an
    optimization on top of an always-applied row filter).

    The quantize/interleave primitives live in operators/zorder.py —
    ONE Morton implementation serves both this plain-parquet layout
    rewrite and the transactional lake's ``zorder_by`` version writes;
    this wrapper keeps the layout contract (numeric columns only,
    raise on an all-NULL dimension rather than silently degrading
    it)."""
    from babylon_data_loader_spark.operators.zorder import (
        interleave,
        quantize,
    )

    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    cells = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        if mn is None or mx is None:
            raise ValueError(
                f"zorder_column: column {c!r} has no numeric min/max "
                "(all-NULL or not castable to double) — it cannot "
                "contribute to a Z-order key"
            )
        cells.append(quantize(F.col(c).cast("double"), mn, mx, 10))
    return interleave(cells, 10)


def optimize_layout(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
) -> DataFrame:
    """Rewrite `src_path` into `dst_path` with files of roughly
    `target_file_bytes` (compressed) each.

    - `sort_by`: range-partition + sort within files on these columns;
      footer min/max become disjoint ranges ⇒ file-level skipping for
      predicates on the leading column.
    - `zorder_by`: multi-column clustering via a Morton key
      (`zorder_column`) — footers become selective on every listed
      column at once (mutually exclusive with `sort_by`).
    - `n_files`: override the size-based file count (e.g. match core
      count for a hot table far smaller than target_file_bytes).

    Returns the reader of the optimized copy.
    """
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if n_files is None:
        n_files = max(
            1, math.ceil(_tree_bytes(src_path) / target_file_bytes)
        )
    df = spark.read.parquet(src_path)
    if zorder_by:
        z = zorder_column(df, zorder_by)
        df = (
            df.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
            *sort_by
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    return spark.read.parquet(dst_path)
