"""Per-file min/max data-skipping stats for the transactional lake.

Delta keeps per-file column stats in its log and prunes files whose
[min, max] cannot satisfy the query predicate before any data is read;
at 100 TB that is the difference between a point lookup touching O(1)
files and a full scan. This module reproduces that shape for
``TransactionalLake`` (the Spark-side answer to the reference's
indexed Mongo lookups, apiClient/apiClient.go:188-243 — an indexed
read must not scan the table):

- Stats are harvested from the parquet FOOTERS the writer already
  produced — metadata-only reads, no data pass. Harvesting is
  distributed: file paths go through ``mapInPandas`` and each
  executor reads only its files' footers with pyarrow.
- Stats live in a parquet sidecar ``<version_dir>/_stats`` — the JSON
  manifest stays O(partitions) while the O(files) stats ride in
  columnar form next to the data they describe (Delta's checkpoint
  split). Underscore-prefixed, so plain readers never see it; the
  sidecar is written BEFORE the version is claimed, so a committed
  version always has its stats, and vacuum removes dir + sidecar
  together.
- Pruning is conservative: a file with no stats for a column (schema
  evolution, all-null row group, truncated/undecodable footer bounds)
  is always kept. Parquet writers truncate long binary min/max by
  rounding min down and max up, so truncated bounds stay valid for
  overlap tests.

File-level skipping composes with the two pruning layers the lake
already has — manifest partition selection and hive subdir pruning —
and becomes effective when the writer range-clusters
(``TransactionalLake(cluster_by=[...])``): ``repartitionByRange`` on
the cluster key gives every output file a disjoint key range, the
poor-man's Z-ORDER on one dimension.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from babylon_data_loader_spark.session import local_frame

STATS_SIDECAR = "_stats"

STATS_SCHEMA = T.StructType(
    [
        T.StructField("subdir", T.StringType()),
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        # 'num' → bounds in min_num/max_num; 'str' → min_str/max_str
        # (dates/timestamps as ISO strings: lexicographic == temporal);
        # 'none' → no usable bounds, file must be kept.
        T.StructField("kind", T.StringType()),
        T.StructField("min_num", T.DoubleType()),
        T.StructField("max_num", T.DoubleType()),
        T.StructField("min_str", T.StringType()),
        T.StructField("max_str", T.StringType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("num_rows", T.LongType()),
    ]
)


def _bound_kind(value) -> tuple[str, float | None, str | None]:
    """Classify a footer min/max value into a comparable domain."""
    import datetime
    import decimal

    if isinstance(value, bool):
        return "num", float(value), None
    if isinstance(value, (int, float, decimal.Decimal)):
        return "num", float(value), None
    if isinstance(value, (datetime.date, datetime.datetime)):
        return "str", None, value.isoformat()
    if isinstance(value, bytes):
        try:
            return "str", None, value.decode("utf-8")
        except UnicodeDecodeError:
            return "none", None, None
    if isinstance(value, str):
        return "str", None, value
    return "none", None, None


def _footer_stats(
    base_dir: str, subdir: str, rel_file: str, stats_cols: list[str]
) -> list[dict]:
    """One file's footer → one stats row per requested column
    (min of row-group mins / max of maxes; 'none' if any row group
    lacks usable bounds, so partial knowledge never over-prunes)."""
    import pyarrow.parquet as pq

    path = os.path.join(base_dir, subdir, rel_file)
    md = pq.ParquetFile(path).metadata
    col_idx = {
        md.schema.column(i).path: i for i in range(md.num_columns)
    }
    rows = []
    for col in stats_cols:
        row = {
            "subdir": subdir,
            "file": rel_file,
            "column": col,
            "kind": "none",
            "min_num": None,
            "max_num": None,
            "min_str": None,
            "max_str": None,
            "null_count": None,
            "num_rows": md.num_rows,
        }
        ci = col_idx.get(col)
        if ci is not None:
            mins, maxs, nulls, ok = [], [], 0, True
            have_nulls = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mins.append(st.min)
                maxs.append(st.max)
                if st.has_null_count:
                    nulls += st.null_count
                else:
                    have_nulls = False
            if ok and mins:
                kinds = {_bound_kind(v)[0] for v in mins + maxs}
                if len(kinds) == 1 and "none" not in kinds:
                    kind = kinds.pop()
                    lo = min(_bound_kind(v)[1 if kind == "num" else 2] for v in mins)
                    hi = max(_bound_kind(v)[1 if kind == "num" else 2] for v in maxs)
                    row["kind"] = kind
                    if kind == "num":
                        row["min_num"], row["max_num"] = lo, hi
                    else:
                        row["min_str"], row["max_str"] = lo, hi
                    row["null_count"] = nulls if have_nulls else None
        rows.append(row)
    return rows


def collect_file_stats(
    spark: SparkSession,
    base_dir: str,
    files: list[tuple[str, str]],
    stats_cols: list[str],
) -> DataFrame:
    """Footer stats for ``files`` (``(subdir, rel_file)`` pairs under
    ``base_dir``), read on executors — the driver ships paths, never
    parses a footer. The path frame is a local relation, so only the
    ``mapInPandas`` harvest runs Python, on a partition count that
    tracks the file count: a tiny version dir starts one worker."""
    cols = list(stats_cols)
    n_parts = max(1, min(32, len(files) // 64 + 1))
    paths = local_frame(
        spark, files, "subdir string, file string"
    ).repartition(n_parts)

    def harvest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for subdir, rel_file in zip(pdf["subdir"], pdf["file"]):
                out.extend(_footer_stats(base_dir, subdir, rel_file, cols))
            yield pd.DataFrame(
                out, columns=[f.name for f in STATS_SCHEMA.fields]
            )

    return paths.mapInPandas(harvest, schema=STATS_SCHEMA)


def write_stats_sidecar(
    spark: SparkSession,
    version_dir: str,
    partition_prefix: str,
    stats_cols: list[str],
) -> None:
    """Harvest and persist ``<version_dir>/_stats``. The file listing
    is O(files in THIS version dir) on the driver — the same listing
    the write itself just performed, bounded by the touched
    partitions, not the table."""
    files = [
        (subdir, f)
        for subdir in sorted(os.listdir(version_dir))
        if subdir.startswith(partition_prefix)
        for f in sorted(os.listdir(os.path.join(version_dir, subdir)))
        if f.endswith(".parquet")
    ]
    if not files:
        return
    stats = collect_file_stats(spark, version_dir, files, stats_cols)
    # One version's stats are a few KB per thousand files; a single
    # sidecar file keeps the read side to one footer fetch.
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(version_dir, STATS_SIDECAR)
    )


def prune_files(
    spark: SparkSession,
    version_dir: str,
    subdirs: list[str],
    predicates: list[tuple[str, object | None, object | None]],
) -> dict[str, list[str]] | None:
    """Files in ``subdirs`` of ``version_dir`` that can satisfy every
    ``(column, lo, hi)`` range (closed interval; None = unbounded).

    Returns ``{subdir: [rel_file, ...]}`` with skipped files removed,
    or None when the dir predates stats collection (caller reads the
    subdirs whole). A file is dropped only if some predicate's window
    is provably disjoint from the file's [min, max]; 'none' bounds and
    absent columns keep the file.
    """
    sidecar = os.path.join(version_dir, STATS_SIDECAR)
    if not os.path.isdir(sidecar):
        return None
    # Name the part files explicitly: an underscore-prefixed ROOT path
    # trips Spark's hidden-path filter (cosmetic "all paths ignored"
    # warning), explicit leaf files don't.
    parts = [
        os.path.join(sidecar, f)
        for f in sorted(os.listdir(sidecar))
        if f.endswith(".parquet")
    ]
    if not parts:
        return None
    stats = spark.read.schema(STATS_SCHEMA).parquet(*parts).filter(
        F.col("subdir").isin(subdirs)
    )
    disjoint = F.lit(False)
    for col, lo, hi in predicates:
        is_num = isinstance(lo, (int, float)) or isinstance(hi, (int, float))
        mn, mx = ("min_num", "max_num") if is_num else ("min_str", "max_str")
        kind = "num" if is_num else "str"
        miss = F.lit(False)
        if hi is not None:
            miss = miss | (F.col(mn) > F.lit(hi))
        if lo is not None:
            miss = miss | (F.col(mx) < F.lit(lo))
        disjoint = disjoint | (
            (F.col("column") == col) & (F.col("kind") == kind) & miss
        )
    kept = (
        stats.groupBy("subdir", "file")
        .agg(F.max(disjoint.cast("int")).alias("skip"))
        .filter(F.col("skip") == 0)
        .select("subdir", "file")
        .collect()  # O(kept files): the same scale as any file index
    )
    out: dict[str, list[str]] = {s: [] for s in subdirs}
    for r in kept:
        out[r["subdir"]].append(r["file"])
    return out
